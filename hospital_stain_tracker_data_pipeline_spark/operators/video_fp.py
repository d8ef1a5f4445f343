"""Video near-duplicate dedup: clip-level perceptual fingerprints over
REAL container-extracted frames + the shared Hamming-banded pair
engine — the final modality of the incremental dedup lifecycle (text,
images, embeddings, audio, and now video all ride the same pipeline:
batch pairs -> persisted tagged index -> corpus-wins gate -> streaming
twin -> CLI).

A clip's fingerprint is the per-bit MAJORITY VOTE over the perceptual
hashes (``multimodal._phash_bits`` — dHash/aHash on real decoded
pixels, exact integer arithmetic) of ``n_samples`` frames sampled at
fixed RELATIVE timestamps ``duration * (2i+1) / (2k)``. Why this
shape:

- relative-timestamp sampling (not a stride) makes the fingerprint
  invariant to frame RATE: the same content at 10 fps and 30 fps
  samples (nearly) the same moments;
- the majority vote makes it robust to a re-encode or a swapped
  intro/outro frame: one divergent frame out of k flips only the bits
  whose vote was within one frame of a tie;
- packing into ONE LONG means pair generation, the incremental gate,
  and the persisted index all reuse the pigeonhole Hamming banding
  (``dedup.hamming_pairs`` family) on (id, 8 bytes) — frame bytes and
  pixels never cross a shuffle, the 100 TB video-dedup shape.

Frame extraction is the ``sample_video_frames`` machinery: REAL for
RIFF/AVI MJPEG and for MP4 tracks with JPEG-coded samples (full stbl
resolution); the frame bytes decode through the library's own JPEG
codec. H.264/H.265 tracks need an entropy decoder this environment
lacks — the module-standard policy applies (deterministic stand-in
under ``fake_decode=True``, loud NotImplementedError otherwise).

Reference parity note: the reference pipeline has no video surface;
this module is part of the prompt-mandated training-data extension
set (multimodal dedup).
"""

from __future__ import annotations

import bisect
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import DEFAULT_MAX_BUCKET as DEDUP_DEFAULT_MAX_BUCKET
from .multimodal import (
    _decode_any_pixels,
    _phash_bits,
    mp4_jpeg_track,
    sniff_avi,
    sniff_mp4,
)

VIDEO_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("vhash", T.LongType(), True),
        T.StructField("n_frames_hashed", T.IntegerType(), False),
        T.StructField("decoded", T.BooleanType(), False),
    ]
)


def _vhash_tag(algo: str, hash_size: int, n_samples: int) -> str:
    """Fingerprint-family tag for the persisted index artifact —
    includes every parameter that changes the bits, so a probe under
    one configuration fail-fasts against an index built under
    another."""
    return f"vphash-v1:{algo}:{hash_size}:n_samples={n_samples}"


def _clip_frames(raw: bytes, n_samples: int) -> tuple[str, list[bytes]] | None:
    """(mime, frame bytes at the k relative timestamps) for a natively
    parseable container, else None. Frames repeat when the clip has
    fewer distinct frames than samples — the vote then just weights
    them, which is exactly what a short clip should do."""
    avi = sniff_avi(raw)
    sniffed = avi or sniff_mp4(raw)
    track = None if avi else mp4_jpeg_track(raw)
    if sniffed is None:
        return None
    dur = sniffed.get("duration_s") or 0.0
    chunks = (avi or {}).get("frames") or []
    fps = (avi or {}).get("fps") or 0.0
    frames: list[bytes] = []
    for i in range(n_samples):
        ts = dur * (2 * i + 1) / (2 * n_samples)
        if chunks and fps:
            # FLOOR, not round: "the frame being displayed at ts" —
            # the same convention the MP4 path's bisect gives, so the
            # identical frames in an AVI and an MP4 container sample
            # identically (content addressing across containers)
            fi = min(int(ts * fps), len(chunks) - 1)
            off, ln = chunks[fi]
            frames.append(raw[off:off + ln])
        elif track is not None:
            times = track["times_s"]
            fi = max(0, bisect.bisect_right(times, ts) - 1)
            off, ln = track["samples"][fi]
            frames.append(raw[off:off + ln])
    if not frames:
        return None  # parseable container, no extractable frame bytes
    return sniffed["mime"], frames


def video_phash(
    media: DataFrame,
    algo: str = "dhash",
    hash_size: int = 8,
    n_samples: int = 8,
    fake_decode: bool = False,
) -> DataFrame:
    """Clip-level perceptual hash over the media table — ``(media_id,
    mime, vhash, n_frames_hashed, decoded)`` with one LONG per clip:
    bit j of ``vhash`` is set iff a strict majority of the sampled
    frames' ``_phash_bits`` have bit j set (ties -> 0, deterministic).
    Sampled frames that fail pixel decode are skipped from the vote
    (``n_frames_hashed`` counts the voters); a clip with ZERO decodable
    frames falls to the module-standard policy (stand-in under
    ``fake_decode``, NotImplementedError otherwise), as does a payload
    in no native container. NULL payloads hash to NULL.

    Scale shape: ONE Arrow-batched ``mapInPandas`` pass — container
    parse, frame extraction, JPEG decode, per-frame hash, and the vote
    all happen where the payload bytes already are; neither frames nor
    pixels ever enter a shuffle."""
    if algo not in ("dhash", "ahash"):
        raise ValueError(f"unknown phash algo {algo!r} (dhash|ahash)")
    nbits = hash_size * hash_size
    if nbits > 64:
        raise ValueError(
            f"hash_size={hash_size} needs {nbits} bits; the LONG "
            "fingerprint caps at 64 (hash_size <= 8)"
        )
    if n_samples < 1:
        raise ValueError("n_samples must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append(
                        {
                            "media_id": media_id,
                            "mime": None,
                            "vhash": None,
                            "n_frames_hashed": 0,
                            "decoded": False,
                        }
                    )
                    continue
                raw = bytes(payload)
                clip = _clip_frames(raw, n_samples)
                votes = [0] * nbits
                n_hashed = 0
                mime = clip[0] if clip else None
                if clip:
                    for fb in clip[1]:
                        px = _decode_any_pixels(fb)
                        if px is None:
                            continue
                        fh = _phash_bits(px, algo, hash_size)
                        for j in range(nbits):
                            votes[j] += (fh >> j) & 1
                        n_hashed += 1
                if n_hashed:
                    h = 0
                    for j in range(nbits):
                        if 2 * votes[j] > n_hashed:
                            h |= 1 << j
                    decoded = True
                elif fake_decode:
                    h = int(hashlib.sha256(raw).hexdigest()[:16], 16) & (
                        (1 << nbits) - 1
                    )
                    decoded = False
                else:
                    raise NotImplementedError(
                        "video_phash needs extractable, decodable frames "
                        "(AVI/MJPEG and MP4 JPEG-coded tracks are native); "
                        "this payload requires PyAV/ffmpeg, not available "
                        "in this environment — pass fake_decode=True for "
                        "the deterministic stand-in"
                    )
                if h >= 1 << 63:
                    h -= 1 << 64
                rows.append(
                    {
                        "media_id": media_id,
                        "mime": mime,
                        "vhash": h,
                        "n_frames_hashed": n_hashed,
                        "decoded": decoded,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_PHASH_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=VIDEO_PHASH_SCHEMA
    )


def video_dup_pairs(
    media: DataFrame,
    algo: str = "dhash",
    hash_size: int = 8,
    n_samples: int = 8,
    max_hamming: int = 4,
    fake_decode: bool = False,
    max_bucket: int | None = DEDUP_DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Video near-duplicate pairs: ``video_phash`` + the pigeonhole
    Hamming banding (``dedup.hamming_pairs``) — ``(id_a, id_b,
    hamming)`` for every pair of clips whose fingerprints differ in
    <= ``max_hamming`` bits. Exact recall at the fingerprint level;
    frame bytes never enter a shuffle."""
    from .dedup import hamming_pairs

    hashes = video_phash(media, algo, hash_size, n_samples, fake_decode)
    return hamming_pairs(
        hashes,
        hash_col="vhash",
        id_col="media_id",
        nbits=hash_size * hash_size,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def dedup_videos_against_corpus(
    new_media: DataFrame,
    corpus_index: DataFrame,
    algo: str = "dhash",
    hash_size: int = 8,
    n_samples: int = 8,
    max_hamming: int = 4,
    fake_decode: bool = False,
    max_bucket: int | None = DEDUP_DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental video dedup: drop new clips whose fingerprint is
    within ``max_hamming`` bits of anything ALREADY INDEXED (corpus
    wins). The index is a persisted ``video_phash`` output
    ``(media_id, vhash)`` — 8 bytes + an id per clip, frames never
    stored (``save_vhash_index``). Does NOT dedup the batch against
    itself — compose with ``video_dup_pairs``. Returns surviving
    ``new_media`` rows unchanged; works per micro-batch inside
    ``foreachBatch`` (``streaming.stream_video_dedup_ingest``)."""
    from .dedup import hamming_pairs_against_corpus

    hashes = video_phash(new_media, algo, hash_size, n_samples, fake_decode)
    matched = (
        hamming_pairs_against_corpus(
            hashes,
            corpus_index,
            hash_col="vhash",
            id_col="media_id",
            nbits=hash_size * hash_size,
            max_hamming=max_hamming,
            max_bucket=max_bucket,
        )
        .select(F.col("new_id").alias("media_id"))
        .distinct()
    )
    return new_media.join(matched, "media_id", "left_anti")


def save_vhash_index(
    index: DataFrame,
    path: str,
    algo: str = "dhash",
    hash_size: int = 8,
    n_samples: int = 8,
) -> None:
    """Persist a video-fingerprint index under its full parameter tag
    (``dedup.save_fp_index`` — algo, hash_size, AND n_samples all
    change the bits, so all three ride the artifact)."""
    from .dedup import save_fp_index

    save_fp_index(
        index,
        path,
        _vhash_tag(algo, hash_size, n_samples),
        id_col="media_id",
        hash_col="vhash",
    )


def append_vhash_index(spark: SparkSession, path: str, hashes: DataFrame) -> int:
    """Append survivor fingerprints to an existing ``save_vhash_index``
    artifact under the artifact's OWN recorded parameters (the
    ``append_phash_index`` discipline — feed ``load_vhash_index``'s
    returned params into ``video_phash`` so artifact-mediated flows
    can't mismatch). Returns rows appended."""
    from .dedup import append_fp_index

    _, algo, hash_size, n_samples = load_vhash_index(spark, path)
    return append_fp_index(
        spark, path, hashes, _vhash_tag(algo, hash_size, n_samples)
    )


def load_vhash_index(spark: SparkSession, path: str):
    """Inverse of ``save_vhash_index``: ``(index, algo, hash_size,
    n_samples)`` with the parameters parsed FROM the artifact's tag —
    the ``load_phash_index`` shape, so artifact-mediated flows hash
    their probes with exactly the index's configuration. One artifact
    read (``dedup.load_fp_index`` with ``expected_tag=None``; the
    family parse here). Fails loudly on a root that is not a committed
    fingerprint artifact, a tag from a different fingerprint family or
    revision, or an unparseable tag."""
    from .dedup import load_fp_index

    index, tag = load_fp_index(spark, path, None)
    missing = [c for c in ("media_id", "vhash") if c not in index.columns]
    if missing:
        raise ValueError(
            f"{path} lacks column(s) {missing} — written under different "
            "column names than this probe expects"
        )
    try:
        family, algo, hs, ns = tag.split(":")
        hash_size = int(hs)
        n_samples = int(ns.removeprefix("n_samples="))
        ok = (
            family == "vphash-v1"
            and algo in ("dhash", "ahash")
            and 1 <= hash_size <= 8
            and n_samples >= 1
            and ns.startswith("n_samples=")
        )
    except ValueError:
        ok = False
    if not ok:
        raise ValueError(
            f"{path} records fingerprint tag {tag!r} — not a vphash-v1 "
            "artifact this module can probe (rebuild the index)"
        )
    return index, algo, hash_size, n_samples
