"""Video near-duplicate dedup: clip-level perceptual fingerprints
(majority vote over sampled frames' dHash bits) + Hamming-banded pair
generation, over REAL container-extracted frames (MJPEG AVI / MP4
JPEG-coded tracks) decoded by the library's own JPEG codec.

Pins (the image/audio-tier battery, transposed):
- fingerprint bit-exactness against an INDEPENDENT pure-python
  reference (its own timestamp->frame map + per-frame reference hash
  + python-int vote);
- content addressing ACROSS CONTAINERS: the same JPEG frames in an
  AVI and in an MP4 fingerprint identically, and so does the same
  content at a different frame rate (relative-timestamp sampling);
- pair generation == DuckDB brute-force Hamming ball;
- planted near-dup recall (lossy re-encode / pixel tweak -> few bits;
  distinct clips -> tens of bits);
- decode policy: fake stand-in under fake_decode, loud
  NotImplementedError otherwise (including a parseable container
  whose frames are all undecodable), NULL payload -> NULL;
- the incremental tier: corpus-wins gate, tagged index artifact
  round-trip + family/revision guards (the generic
  dedup.save/load/append_fp_index discipline), survivors-append,
  streaming twin == batch.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
    save_fp_index,
)
from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import (
    decode_jpeg_pixels,
    encode_jpeg,
)
from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    build_mjpeg_avi,
    build_mjpeg_mp4,
    resize_rgb_nearest,
    to_media_table,
)
from hospital_stain_tracker_data_pipeline_spark.operators.video_fp import (
    dedup_videos_against_corpus,
    load_vhash_index,
    save_vhash_index,
    video_dup_pairs,
    video_phash,
)

SIZE = 24
N_FRAMES = 5
FPS = 10.0


def _frames_px(seed: int, n: int = N_FRAMES) -> list[np.ndarray]:
    rng = np.random.RandomState(seed)
    return [
        rng.randint(0, 256, size=(SIZE, SIZE, 3)).astype(np.uint8)
        for _ in range(n)
    ]


def _avi(pxs: list[np.ndarray], quality: int = 90, fps: float = FPS) -> bytes:
    return build_mjpeg_avi(
        [encode_jpeg(p, quality=quality) for p in pxs], SIZE, SIZE, fps=fps
    )


def _tweaked(pxs: list[np.ndarray], seed: int) -> list[np.ndarray]:
    rng = np.random.RandomState(seed)
    out = []
    for p in pxs:
        q = p.copy()
        q[rng.randint(SIZE), rng.randint(SIZE)] = rng.randint(0, 256, size=3)
        out.append(q)
    return out


def _media(spark, payloads: list[bytes | None], ids=None):
    ids = list(range(len(payloads))) if ids is None else ids
    pdf = pd.DataFrame({"media_id": ids, "payload": payloads})
    return to_media_table(
        spark.createDataFrame(pdf), "media_id", "payload", source="test"
    )


def _ref_frame_phash(px: np.ndarray, hs: int = 8) -> int:
    """The image-test reference dHash: plain-python loops."""
    g = resize_rgb_nearest(px, hs + 1, hs)
    luma = [
        [
            299 * int(g[r, c, 0]) + 587 * int(g[r, c, 1]) + 114 * int(g[r, c, 2])
            for c in range(hs + 1)
        ]
        for r in range(hs)
    ]
    h, i = 0, 0
    for r in range(hs):
        for c in range(hs):
            if luma[r][c + 1] > luma[r][c]:
                h |= 1 << i
            i += 1
    return h


def _ref_vhash(jpeg_frames: list[bytes], fps: float, k: int = 8) -> int:
    """Independent reference: its OWN timestamp->frame map (duration =
    n/fps; frame displayed at ts is floor(ts*fps)) + reference
    per-frame hash + python-int majority vote (ties -> 0)."""
    n = len(jpeg_frames)
    dur = n / fps
    votes = [0] * 64
    voters = 0
    for i in range(k):
        ts = dur * (2 * i + 1) / (2 * k)
        fi = min(int(ts * fps), n - 1)
        px = decode_jpeg_pixels(jpeg_frames[fi])
        fh = _ref_frame_phash(px)
        for j in range(64):
            votes[j] += (fh >> j) & 1
        voters += 1
    h = 0
    for j in range(64):
        if 2 * votes[j] > voters:
            h |= 1 << j
    return h


def _signed64(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_video_phash_matches_pure_python_reference(spark):
    clip_frames = [
        [encode_jpeg(p) for p in _frames_px(seed)] for seed in range(4)
    ]
    media = _media(
        spark, [build_mjpeg_avi(fr, SIZE, SIZE, fps=FPS) for fr in clip_frames]
    )
    got = {
        r["media_id"]: (r["vhash"], r["n_frames_hashed"], r["decoded"])
        for r in video_phash(media).collect()
    }
    for i, fr in enumerate(clip_frames):
        assert got[i] == (_signed64(_ref_vhash(fr, FPS)), 8, True)

    # bad-argument guards
    with pytest.raises(ValueError, match="caps at 64"):
        video_phash(media, hash_size=9)
    with pytest.raises(ValueError, match="unknown phash algo"):
        video_phash(media, algo="whash")
    with pytest.raises(ValueError, match="n_samples"):
        video_phash(media, n_samples=0)


def test_video_phash_content_addressed_across_containers(spark):
    """The same JPEG frames in an AVI and in an MP4 fingerprint
    identically, and the same content at triple the frame rate does
    too — relative-timestamp sampling + the shared floor convention
    make the fingerprint a function of content, not container or
    rate."""
    frames = [encode_jpeg(p) for p in _frames_px(7)]
    media = _media(
        spark,
        [
            build_mjpeg_avi(frames, SIZE, SIZE, fps=FPS),
            build_mjpeg_mp4(frames, SIZE, SIZE, fps=FPS),
            # same frames declared at 30 fps (same content, shorter
            # clip): every relative timestamp still lands on the same
            # frame index
            build_mjpeg_avi(frames, SIZE, SIZE, fps=30.0),
        ],
    )
    rows = {r["media_id"]: r for r in video_phash(media).collect()}
    assert rows[0]["vhash"] == rows[1]["vhash"] == rows[2]["vhash"]
    assert rows[0]["mime"] == "video/x-msvideo" or rows[0]["mime"].startswith(
        "video/"
    )
    assert rows[1]["mime"].startswith("video/")
    assert all(rows[i]["decoded"] for i in range(3))


def test_video_dup_pairs_matches_duckdb_bruteforce(spark):
    """Banded pair generation over 21 clips (3 planted near-dup
    families: base + a quality-85 re-encode + a per-frame pixel tweak,
    plus singletons) == the brute-force Hamming-ball DuckDB computes
    over the same fingerprints."""
    clips = []
    for fam in range(3):
        pxs = _frames_px(10 + fam)
        clips.append(_avi(pxs))                      # base
        clips.append(_avi(pxs, quality=85))          # lossy re-encode
        clips.append(_avi(_tweaked(pxs, seed=fam)))  # pixel tweak
    clips += [_avi(_frames_px(100 + s)) for s in range(12)]
    media = _media(spark, clips)

    fps = video_phash(media).toPandas()
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in video_dup_pairs(media, max_hamming=4).collect()
    )
    con = duckdb.connect()
    con.register("h", fps[["media_id", "vhash"]])
    want = sorted(
        map(
            tuple,
            con.execute(
                "SELECT a.media_id, b.media_id, "
                "bit_count(xor(a.vhash, b.vhash)) AS d "
                "FROM h a JOIN h b ON a.media_id < b.media_id "
                "WHERE bit_count(xor(a.vhash, b.vhash)) <= 4 "
                "ORDER BY 1, 2"
            ).fetchall(),
        )
    )
    assert got == want
    assert len(got) > 0, "fixture planted no near-dups — weaken the variants"
    # sanity: a planted family member pairs; clips from different
    # families sit far apart
    hs = {int(r["media_id"]): int(r["vhash"]) for _, r in fps.iterrows()}
    assert _ham(hs[0], hs[9]) > 10


def test_video_phash_decode_policy(spark):
    """Module-standard policy: NULL -> NULL fingerprint; a non-video
    payload AND a parseable container whose frames are all
    undecodable both fall to the deterministic decoded=False stand-in
    under fake_decode and raise loudly otherwise."""
    # an AVI whose frame chunks are NOT valid JPEG bytes: the
    # container parses, every frame decode fails, zero voters
    bad_frames_avi = build_mjpeg_avi([b"not a jpeg"], SIZE, SIZE, fps=FPS)
    payloads = [_avi(_frames_px(1)), b"not a video", bad_frames_avi, None]
    media = _media(spark, payloads)

    rows = {
        r["media_id"]: r
        for r in video_phash(media, fake_decode=True).collect()
    }
    assert rows[0]["decoded"] is True and rows[0]["n_frames_hashed"] == 8
    assert rows[1]["decoded"] is False and rows[1]["vhash"] is not None
    assert rows[2]["decoded"] is False and rows[2]["n_frames_hashed"] == 0
    assert rows[3]["vhash"] is None
    again = {
        r["media_id"]: r["vhash"]
        for r in video_phash(media, fake_decode=True).collect()
    }
    assert again == {k: v["vhash"] for k, v in rows.items()}

    # NULL-fingerprint rows never reach the pair join
    pairs = video_dup_pairs(media, fake_decode=True)
    assert pairs.filter(
        (F.col("id_a") == 3) | (F.col("id_b") == 3)
    ).count() == 0

    with pytest.raises(Exception, match="NotImplementedError|PyAV|ffmpeg"):
        video_phash(media).collect()


def test_dedup_videos_against_corpus(spark, tmp_path):
    """Incremental video dedup: persist the vhash index for a corpus,
    gate a new batch — an MP4 re-container of an indexed AVI drops
    (hamming 0), a quality-85 re-encode drops, a different clip and a
    within-batch duplicate pair both survive (corpus wins)."""
    base_px = _frames_px(21)
    base_frames = [encode_jpeg(p) for p in base_px]
    other = _avi(_frames_px(22))
    far = _avi(_frames_px(23))

    corpus = _media(
        spark, [build_mjpeg_avi(base_frames, SIZE, SIZE, fps=FPS), other]
    )
    idx_path = str(tmp_path / "vhidx")
    save_vhash_index(video_phash(corpus), idx_path)
    index, algo, hash_size, n_samples = load_vhash_index(spark, idx_path)
    assert (algo, hash_size, n_samples) == ("dhash", 8, 8)

    new_payloads = [
        build_mjpeg_mp4(base_frames, SIZE, SIZE, fps=FPS),  # 100: re-container
        _avi(base_px, quality=85),                          # 101: re-encode
        far,                                                # 102: survives
        far,                                                # 103: within-batch
    ]                                                       #      dup, survives
    new_media = _media(spark, new_payloads, ids=[100, 101, 102, 103])
    kept = sorted(
        r["media_id"]
        for r in dedup_videos_against_corpus(
            new_media, index, max_hamming=6
        ).collect()
    )
    assert kept == [102, 103]

    # cross-set pairs replay in DuckDB
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        hamming_pairs_against_corpus,
    )

    new_fps = video_phash(new_media)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["hamming"])
        for r in hamming_pairs_against_corpus(
            new_fps, index, hash_col="vhash", max_hamming=6
        ).collect()
    )
    con = duckdb.connect()
    con.register("n", new_fps.select("media_id", "vhash").toPandas())
    con.register("c", index.toPandas())
    want = sorted(
        map(
            tuple,
            con.execute(
                "SELECT n.media_id, c.media_id, "
                "bit_count(xor(n.vhash, c.vhash)) FROM n, c "
                "WHERE bit_count(xor(n.vhash, c.vhash)) <= 6"
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 2


def test_vhash_index_roundtrip_and_guards(spark, tmp_path):
    """The tagged-artifact discipline (generic dedup.save_fp_index
    under the hood): parameters ride the tag and come back from load;
    NULL rows drop at save; an EMPTY index round-trips; a root without
    a manifest, foreign-family and wrong-column artifacts fail
    loudly."""
    media = _media(spark, [_avi(_frames_px(s)) for s in range(3)] + [None])
    fps = video_phash(media, n_samples=4, fake_decode=True)
    path = str(tmp_path / "vhidx")
    save_vhash_index(fps, path, n_samples=4)

    idx, algo, hs, ns = load_vhash_index(spark, path)
    assert (algo, hs, ns) == ("dhash", 8, 4)
    got = {r["media_id"]: r["vhash"] for r in idx.collect()}
    want = {
        r["media_id"]: r["vhash"]
        for r in fps.collect()
        if r["vhash"] is not None
    }
    assert got == want and len(got) == 3  # NULL row dropped

    empty = str(tmp_path / "empty")
    save_vhash_index(fps.filter("media_id < 0"), empty, n_samples=4)
    idx2, _, _, ns2 = load_vhash_index(spark, empty)
    assert (idx2.count(), ns2) == (0, 4)

    # guards
    with pytest.raises(ValueError, match="lacks column"):
        save_vhash_index(fps.drop("vhash"), str(tmp_path / "x1"))
    plain = str(tmp_path / "plain")
    fps.select("media_id", "vhash").write.parquet(plain)
    with pytest.raises(ValueError, match="not a committed artifact"):
        load_vhash_index(spark, plain)
    # foreign family tag: NOT probe-able as vhash even when the
    # columns happen to line up
    foreign = str(tmp_path / "foreign")
    save_fp_index(
        fps, foreign, "afp-other-family", id_col="media_id", hash_col="vhash"
    )
    with pytest.raises(ValueError, match="not a vphash-v1"):
        load_vhash_index(spark, foreign)
    # an artifact written under different column names is rejected
    wrongcols = str(tmp_path / "wrongcols")
    save_fp_index(
        fps.select("media_id", F.col("vhash").alias("afp")), wrongcols,
        "vphash-v1:dhash:8:n_samples=4", id_col="media_id", hash_col="afp",
    )
    with pytest.raises(ValueError, match="lacks column"):
        load_vhash_index(spark, wrongcols)


def test_vhash_index_append_feeds_corpus_gate(spark, tmp_path):
    """Survivors-append flow: gate a batch, append the survivors'
    fingerprints under the artifact's own tag, and the SAME batch
    re-gated against the grown index drops entirely."""
    from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
        materialize,
    )
    from hospital_stain_tracker_data_pipeline_spark.operators.video_fp import (
        append_vhash_index,
    )

    base_px = _frames_px(31)
    corpus = _media(spark, [_avi(base_px)])
    path = str(tmp_path / "idx")
    save_vhash_index(video_phash(corpus), path)

    batch = _media(
        spark,
        [_avi(base_px, quality=85), _avi(_frames_px(32))],
        ids=[10, 11],
    )
    index = load_vhash_index(spark, path)[0]
    survivors = dedup_videos_against_corpus(batch, index, max_hamming=6)
    assert [r["media_id"] for r in survivors.collect()] == [11]

    fps = materialize(video_phash(batch))
    surv_fps = fps.join(survivors.select("media_id"), "media_id", "left_semi")
    assert append_vhash_index(spark, path, surv_fps) == 1

    regate = dedup_videos_against_corpus(
        batch, load_vhash_index(spark, path)[0], max_hamming=6
    )
    assert regate.count() == 0
    assert append_vhash_index(spark, path, fps.filter("media_id < 0")) == 0
    assert load_vhash_index(spark, path)[0].count() == 2


def test_stream_video_dedup_ingest(spark, tmp_path):
    """Streaming twin == batch gate: clips land as files, each is
    frame-sampled + fingerprinted once, corpus near-dups drop,
    survivors' fingerprints land in the sink; a second wave processes
    ONLY the new files and the verdicts match the batch operator's."""
    import os

    from hospital_stain_tracker_data_pipeline_spark.streaming.ingest_stream import (
        stream_video_dedup_ingest,
    )

    base_px = _frames_px(41)
    base_frames = [encode_jpeg(p) for p in base_px]
    far = _avi(_frames_px(42))
    other = _avi(_frames_px(43))

    corpus = _media(spark, [build_mjpeg_avi(base_frames, SIZE, SIZE, fps=FPS)])
    index = video_phash(corpus).select("media_id", "vhash")

    land = tmp_path / "landing"
    land.mkdir()
    sink = str(tmp_path / "sink")
    (land / "dup.mp4").write_bytes(
        build_mjpeg_mp4(base_frames, SIZE, SIZE, fps=FPS)
    )
    (land / "near.avi").write_bytes(_avi(base_px, quality=85))
    (land / "keep.avi").write_bytes(far)

    out1 = stream_video_dedup_ingest(
        spark, str(land), index, sink, max_hamming=6
    )
    kept1 = {os.path.basename(r["path"]) for r in out1.collect()}
    assert kept1 == {"keep.avi"}
    [row] = out1.collect()
    assert row["decoded"] is True and row["mime"].startswith("video/")

    (land / "wave2_keep.avi").write_bytes(other)
    (land / "wave2_dup.avi").write_bytes(
        build_mjpeg_avi(base_frames, SIZE, SIZE, fps=FPS)
    )
    out2 = stream_video_dedup_ingest(
        spark, str(land), index, sink, max_hamming=6
    )
    kept2 = {os.path.basename(r["path"]) for r in out2.collect()}
    assert kept2 == {"keep.avi", "wave2_keep.avi"}

    all_payloads = [
        build_mjpeg_mp4(base_frames, SIZE, SIZE, fps=FPS),
        _avi(base_px, quality=85),
        far,
        other,
        build_mjpeg_avi(base_frames, SIZE, SIZE, fps=FPS),
    ]
    batch_kept = dedup_videos_against_corpus(
        _media(spark, all_payloads), index, max_hamming=6
    )
    assert batch_kept.count() == 2
    stream_fps = {r["vhash"] for r in out2.collect()}
    batch_fps = {r["vhash"] for r in video_phash(batch_kept).collect()}
    assert stream_fps == batch_fps

    grown = index.unionByName(out2.select("media_id", "vhash"))
    regate = dedup_videos_against_corpus(
        _media(spark, all_payloads), grown, max_hamming=6
    )
    assert regate.count() == 0
