"""The media fingerprint tier: one family table (``dedup.MEDIA_FP``)
behind the persisted index, the corpus gate, the stream and the CLI of
the image (phash), audio (afp) and video (vhash) families.

Every test runs once per family on planted payloads:
- the index round-trips its family and parameters through the tag;
  NULL rows drop at save; a root without a manifest, a foreign
  revision, a wrong family and wrong columns fail loudly;
- the gate drops the planted near-dup, keeps fresh content and a NULL
  fingerprint, and its survivors' fingerprints append so the same
  batch re-gated drops entirely;
- the stream equals the batch gate, and a replay stays exactly-once;
- the CLI index/filter pair runs the deployment flow end to end.

The per-family fingerprint algorithms are pinned in
``test_image_dedup.py`` / ``test_audio_dedup.py`` /
``test_video_dedup.py``.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hospital_stain_tracker_data_pipeline_spark.operators.dedup import (
    MEDIA_FP,
    append_fp_index,
    dedup_media_against_corpus,
    load_media_index,
    save_fp_index,
)
from hospital_stain_tracker_data_pipeline_spark.operators.flac import encode_flac
from hospital_stain_tracker_data_pipeline_spark.operators.jpeg import encode_jpeg
from hospital_stain_tracker_data_pipeline_spark.operators.multimodal import (
    build_mjpeg_avi,
    build_mjpeg_mp4,
    encode_bmp,
    encode_png,
    encode_wav,
    to_media_table,
)

KINDS = list(MEDIA_FP)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLI = os.path.join(REPO, "scripts", "run_pipeline.py")


@dataclass
class Kit:
    """Planted payloads of one family: ``enc``/``alt`` encode the same
    content in two codecs or containers (hamming 0), ``near`` is a
    near-dup of ``base`` within ``radius`` bits, ``far``/``other`` are
    fresh content."""

    radius: int
    mime: str
    enc: Callable
    alt: Callable
    base: object
    near: bytes
    far: object
    other: object
    params: dict  # non-default fingerprint parameters to round-trip


def _tone(freqs, n: int = 8000) -> np.ndarray:
    t = np.arange(n) / 8000
    x = sum(a * np.sin(2 * np.pi * f * t) for f, a in freqs)
    return np.round(x).astype(np.int16).reshape(-1, 1)


def _frames(seed: int) -> list[np.ndarray]:
    rng = np.random.RandomState(seed)
    return [
        rng.randint(0, 256, size=(24, 24, 3)).astype(np.uint8)
        for _ in range(5)
    ]


def _avi(pxs, quality: int = 90) -> bytes:
    return build_mjpeg_avi(
        [encode_jpeg(p, quality=quality) for p in pxs], 24, 24, fps=10.0
    )


def _kit(kind: str) -> Kit:
    if kind == "image":
        # built AT the dHash grid: the near-dup is exactly one bit off
        base = np.zeros((8, 9, 3), dtype=np.uint8)
        for c in range(9):
            base[:, c] = c * 10
        near = base.copy()
        near[0, 1] = base[0, 0]
        other = np.random.RandomState(42).randint(0, 256, size=(16, 18, 3))
        return Kit(
            3, "image/bmp", encode_bmp, encode_png, base, encode_bmp(near),
            255 - base, other.astype(np.uint8),
            {"algo": "ahash", "hash_size": 4},
        )
    if kind == "audio":
        base = _tone([(440, 4000), (1200, 2500), (2500, 1000)])
        noise = np.random.RandomState(3).randint(-20, 21, size=base.shape)
        near = (base.astype(np.int32) + noise).astype(np.int16)
        return Kit(
            4, "audio/wav",
            lambda x: encode_wav(x, 8000), lambda x: encode_flac(x, 8000),
            base, encode_wav(near, 8000),
            _tone([(300, 3800), (900, 2400)]),
            _tone([(620, 4500), (1800, 2000)]),  # 12 bits from far
            {},
        )
    base = _frames(41)
    return Kit(
        6, "video/x-msvideo", _avi,
        lambda pxs: build_mjpeg_mp4(
            [encode_jpeg(p) for p in pxs], 24, 24, fps=10.0
        ),
        base, _avi(base, quality=85), _frames(42), _frames(43),
        {"n_samples": 4},
    )


def _media(spark, payloads, ids=None):
    ids = list(range(len(payloads))) if ids is None else ids
    pdf = pd.DataFrame({"media_id": ids, "payload": payloads})
    return to_media_table(
        spark.createDataFrame(pdf), "media_id", "payload", source="test"
    )


def _save(media, path, kind, fake_decode=False, **given):
    fam = MEDIA_FP[kind]
    params = fam.params(**given)
    save_fp_index(
        fam.fingerprint(media, params, fake_decode),
        path, fam.tag(params), hash_col=fam.hash_col,
    )


@pytest.mark.parametrize("kind", KINDS)
def test_media_index_roundtrip_and_guards(spark, tmp_path, kind):
    """The tagged-artifact discipline per family: the family and its
    parameters ride the tag and come back from load; NULL-hash and
    NULL-id rows drop at save; an EMPTY index round-trips its tag; a
    root without a manifest, a foreign revision, another family's
    tag, wrong columns and out-of-range parameters fail loudly;
    appends validate the artifact and its tag first."""
    fam, kit = MEDIA_FP[kind], _kit(kind)
    hc = fam.hash_col
    params = fam.params(**kit.params)
    tag = fam.tag(params)
    media = _media(
        spark, [kit.enc(kit.base), kit.enc(kit.far), kit.enc(kit.other), None]
    )
    fps = fam.fingerprint(media, params, fake_decode=True)
    path = str(tmp_path / "idx")
    save_fp_index(fps, path, tag, hash_col=hc)

    idx, got_fam, got_params = load_media_index(spark, path, kind)
    assert got_fam is fam and got_params == params
    assert sorted(idx.columns) == sorted(["media_id", hc])
    got = {r["media_id"]: r[hc] for r in idx.collect()}
    want = {r["media_id"]: r[hc] for r in fps.collect() if r[hc] is not None}
    assert got == want and len(got) == 3  # NULL-hash row dropped

    # empty index: the tag survives the round-trip in the manifest
    empty = str(tmp_path / "empty")
    save_fp_index(fps.filter("media_id < 0"), empty, tag, hash_col=hc)
    idx2, _, params2 = load_media_index(spark, empty)
    assert (idx2.count(), params2) == (0, params)

    # NULL-id rows drop at save (an id-less hash anchors no verdict)
    nid = str(tmp_path / "nullid")
    save_fp_index(
        fps.select(
            F.when(F.col("media_id") != 0, F.col("media_id")).alias(
                "media_id"
            ),
            hc,
        ),
        nid, tag, hash_col=hc,
    )
    assert load_media_index(spark, nid)[0].count() == 2

    # guards
    with pytest.raises(ValueError, match="lacks column"):
        save_fp_index(fps.drop(hc), str(tmp_path / "x1"), tag, hash_col=hc)
    if "hash_size" in fam.defaults:
        with pytest.raises(ValueError, match="out of range"):
            fam.tag({**params, "hash_size": 9})
        with pytest.raises(ValueError, match="out of range"):
            fam.tag({**params, "algo": "md5"})
    else:
        with pytest.raises(TypeError, match="no parameter"):
            fam.params(hash_size=4)
    plain = str(tmp_path / "plain")
    fps.select("media_id", hc).write.parquet(plain)
    with pytest.raises(ValueError, match="not a committed artifact"):
        load_media_index(spark, plain)
    foreign = str(tmp_path / "foreign")
    save_fp_index(fps, foreign, tag.replace("-v1:", "-v0:"), hash_col=hc)
    with pytest.raises(ValueError, match="family or revision"):
        load_media_index(spark, foreign)
    other_kind = KINDS[(KINDS.index(kind) + 1) % len(KINDS)]
    with pytest.raises(ValueError, match="cross-family"):
        load_media_index(spark, path, other_kind)
    wrongcols = str(tmp_path / "wrongcols")
    save_fp_index(
        fps.select("media_id", F.col(hc).alias("fp")), wrongcols, tag,
        hash_col="fp",
    )
    with pytest.raises(ValueError, match="lacks column"):
        load_media_index(spark, wrongcols)

    # append: same artifact discipline, the tag is checked first
    extra = _media(spark, [kit.near], ids=[50])
    n_app = append_fp_index(
        spark, path, fam.fingerprint(extra, params, fake_decode=True), tag
    )
    assert n_app == 1
    assert load_media_index(spark, path)[0].count() == 4
    with pytest.raises(ValueError, match="not a committed artifact"):
        append_fp_index(spark, plain, fps, tag)
    with pytest.raises(ValueError, match="lacks column"):
        append_fp_index(spark, path, fps.drop(hc), tag)
    with pytest.raises(ValueError, match="rebuild the index"):
        append_fp_index(spark, path, fps, MEDIA_FP[other_kind].tag(
            MEDIA_FP[other_kind].params()
        ))


@pytest.mark.parametrize("kind", KINDS)
def test_media_index_append_feeds_corpus_gate(spark, tmp_path, kind):
    """Survivors-append flow: gate a batch against an index, append the
    survivors' fingerprints the gate returns (no second decode), and
    the SAME batch re-gated against the grown index keeps only the
    NULL-fingerprint row — it never pairs. A probe of another family
    is rejected before any decode."""
    kit = _kit(kind)
    path = str(tmp_path / "idx")
    _save(_media(spark, [kit.enc(kit.base)]), path, kind)

    batch = _media(
        spark, [kit.near, kit.enc(kit.far), None], ids=[10, 11, 12]
    )
    survivors, survivor_fps, tag = dedup_media_against_corpus(
        spark, batch, path, max_hamming=kit.radius
    )
    assert sorted(r["media_id"] for r in survivors.collect()) == [11, 12]
    assert survivors.columns == batch.columns
    hc = MEDIA_FP[kind].hash_col
    assert {r["media_id"]: r[hc] is None for r in survivor_fps.collect()} == {
        11: False, 12: True
    }
    assert append_fp_index(spark, path, survivor_fps, tag) == 1

    regate, _, _ = dedup_media_against_corpus(
        spark, batch, path, max_hamming=kit.radius, kind=kind
    )
    assert [r["media_id"] for r in regate.collect()] == [12]
    # appending nothing is a no-op, not a corrupt artifact
    assert append_fp_index(spark, path, survivor_fps.limit(0), tag) == 0
    assert load_media_index(spark, path)[0].count() == 2

    other_kind = KINDS[(KINDS.index(kind) + 1) % len(KINDS)]
    with pytest.raises(ValueError, match="cross-family"):
        dedup_media_against_corpus(spark, batch, path, kind=other_kind)


@pytest.mark.parametrize("kind", KINDS)
def test_stream_media_dedup_ingest(spark, tmp_path, kind):
    """Streaming twin == batch gate: files land, each is decoded and
    fingerprinted once, corpus near-dups drop (a cross-codec copy, a
    near-dup), survivors' fingerprints land in the sink; a second wave
    processes ONLY the new files, a replay with nothing new leaves the
    sink unchanged (exactly-once), the verdicts match the batch gate's,
    and the sink's fingerprints append straight onto the index."""
    from hospital_stain_tracker_data_pipeline_spark.streaming import (
        stream_media_dedup_ingest,
    )

    kit = _kit(kind)
    hc = MEDIA_FP[kind].hash_col
    path = str(tmp_path / "idx")
    _save(_media(spark, [kit.enc(kit.base)]), path, kind)

    land = tmp_path / "landing"
    land.mkdir()
    sink = str(tmp_path / "sink")
    (land / "dup").write_bytes(kit.alt(kit.base))
    (land / "near").write_bytes(kit.near)
    (land / "keep").write_bytes(kit.enc(kit.far))

    def run():
        out = stream_media_dedup_ingest(
            spark, str(land), path, sink, max_hamming=kit.radius
        )
        assert out.columns == ["media_id", "path", "mime", hc, "decoded"]
        return out

    out1 = run()
    [row] = out1.collect()
    assert os.path.basename(row["path"]) == "keep"
    assert row["decoded"] is True and row["mime"] == kit.mime

    # second wave: one fresh item + one more corpus dup
    (land / "wave2_keep").write_bytes(kit.enc(kit.other))
    (land / "wave2_dup").write_bytes(kit.enc(kit.base))
    out2 = run()
    rows2 = sorted(tuple(r) for r in out2.collect())
    assert {os.path.basename(r[1]) for r in rows2} == {"keep", "wave2_keep"}
    assert sorted(tuple(r) for r in run().collect()) == rows2  # replay

    # stream verdicts == batch gate verdicts over the same payloads
    all_payloads = [
        kit.alt(kit.base), kit.near, kit.enc(kit.far), kit.enc(kit.other),
        kit.enc(kit.base),
    ]
    batch_kept, batch_fps, tag = dedup_media_against_corpus(
        spark, _media(spark, all_payloads), path, max_hamming=kit.radius
    )
    assert batch_kept.count() == 2
    assert {r[hc] for r in out2.collect()} == {
        r[hc] for r in batch_fps.collect()
    }

    # survivors' fingerprints append onto the index: the grown index
    # drops everything already ingested
    assert append_fp_index(spark, path, out2, tag) == 2
    regate, _, _ = dedup_media_against_corpus(
        spark, _media(spark, all_payloads), path, max_hamming=kit.radius
    )
    assert regate.count() == 0


def _cli(*args: str) -> str:
    out = subprocess.run(
        [sys.executable, CLI, *args],
        capture_output=True, text=True, timeout=240, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


@pytest.mark.parametrize("kind", KINDS)
def test_cli_media_index_and_filter(tmp_path, kind):
    """Media incremental-dedup deployment flow, mirroring the text
    dedup_index/dedup_filter pair: `<kind>_index` over a corpus, then
    `<kind>_filter` on a new batch (a re-encode of an indexed item +
    a fresh item) — the re-encode drops, the fresh item survives and
    its fingerprint appends (--append-survivors), so a SECOND batch
    holding the fresh item in the other codec drops too; the
    hot-bucket drop count prints with the kept line."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    kit = _kit(kind)
    items, fps = {
        "image": ("images", "hashes"),
        "audio": ("clips", "fingerprints"),
        "video": ("videos", "fingerprints"),
    }[kind]

    def write(name, ids, payloads):
        p = tmp_path / f"{name}.parquet"
        pq.write_table(pa.table({"media_id": ids, "payload": payloads}), p)
        return str(p)

    corpus = write(
        "corpus", [1, 2, 3],
        [kit.enc(kit.base), kit.enc(kit.other), kit.alt(kit.other)],
    )
    idx = str(tmp_path / "idx")
    out = _cli(f"{kind}_index", "--input", corpus, "--output", idx)
    assert f"indexed 3 {items}" in out

    new = write("new", [10, 11], [kit.alt(kit.base), kit.enc(kit.far)])
    kept_dir = str(tmp_path / "kept")
    out = _cli(
        f"{kind}_filter", "--input", new, "--index", idx,
        "--output", kept_dir, "--append-survivors",
    )
    assert f"kept 1/2 {items}" in out
    assert "hot_buckets_dropped=0" in out
    assert f"appended 1 survivor {fps}" in out
    kept = pq.read_table(glob.glob(os.path.join(kept_dir, "*.parquet"))[0])
    assert kept.column("media_id").to_pylist() == [11]

    again = write("again", [20], [kit.alt(kit.far)])
    out = _cli(
        f"{kind}_filter", "--input", again, "--index", idx,
        "--output", str(tmp_path / "kept2"), "--max-bucket", "0",
    )
    assert f"kept 0/1 {items}" in out
