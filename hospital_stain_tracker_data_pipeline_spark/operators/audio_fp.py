"""Audio near-duplicate dedup: acoustic fingerprints over REAL decoded
PCM + the shared Hamming-banded pair engine — the audio analog of the
visual phash tier (``multimodal.image_phash`` family), completing the
modality set: text (SimHash/MinHash), images (dHash/aHash), embeddings
(LSH/IVF-PQ), and now audio all share one incremental dedup lifecycle
(batch pairs -> persisted fingerprint index -> corpus-wins gate ->
streaming twin -> CLI).

The fingerprint is the Haitsma-Kalker sign-of-band-energy-difference
construction (Haitsma & Kalker, "A Highly Robust Audio Fingerprint
System", ISMIR 2002 — public algorithm), adapted to this repo's
exact-integer discipline: instead of FFT band energies (floats, not
bit-replayable), the "bands" are lag-difference energies
``E_L = sum (x[i] - x[i-L])^2`` at lags 1/2/4/8/16 of an 8 kHz mono
stream — an integer high-pass filterbank whose energies order by
spectral content (lag L attenuates content near multiples of
rate / L), computed with int64 arithmetic end to end so the 64-bit
fingerprint is bit-replayable anywhere. Documented divergence from the
paper's FFT filterbank; sign-difference bits and the robustness
contract are the same:

- GAIN-INVARIANT (exactly, for integer scaling): scaling samples by c
  scales every energy by c^2, and every bit is the sign of a
  difference of energy differences — uniform scaling never flips it.
- CONTAINER-INVARIANT: WAV and FLAC of the same PCM decode to the
  same samples, hence the identical fingerprint (content addressing).
- RATE-ROBUST: the signal is first nearest-resampled to the canonical
  8 kHz with the same exact integer index map ``resample_audio``
  uses, so recordings of one source at different rates land a few
  bits apart (exactly equal when the rates divide).
- NOISE-ROBUST: small perturbations flip only the bits whose energy
  differences sit near zero — near-dups land within a few bits, so
  the pigeonhole banding in ``dedup.hamming_pairs`` finds them with
  exact recall at the hash level.

Scale shape (the 100 TB contract, mirroring the image tier): decode +
fingerprint run Arrow-batched in ``mapInPandas`` where the bytes
already are; everything downstream — pair generation, the corpus
gate, the persisted index — moves (id, 8-byte fingerprint) only. PCM
never crosses a shuffle and is never stored in an index.

Reference parity note: the reference pipeline has no audio surface at
all; this module is part of the prompt-mandated training-data
extension set (multimodal dedup).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import DEFAULT_MAX_BUCKET as DEDUP_DEFAULT_MAX_BUCKET
from .multimodal import decode_wav_samples, sniff_wav

# v1 fingerprint parameters — baked into the algo tag so a persisted
# index from a future revision can never be probed silently.
AFP_RATE = 8000
AFP_SEGMENTS = 16
AFP_LAGS = (1, 2, 4, 8, 16)
AFP_ALGO = "hk-lag-v1:8000:16:1,2,4,8,16"
AFP_NBITS = AFP_SEGMENTS * (len(AFP_LAGS) - 1)  # 16 x 4 = 64

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("afp", T.LongType(), True),
        T.StructField("decoded", T.BooleanType(), False),
    ]
)


def _afp_bits(samples: np.ndarray, rate: int) -> int:
    """The fingerprint, exact integer arithmetic end to end:

    1. mono = per-frame SUM of channels (sum, not mean — stays
       integer; uniform gain still scales it uniformly);
    2. nearest-resample to ``AFP_RATE`` with the exact integer index
       map ``idx[i] = (i * n) // n_out`` (``resample_audio``'s map);
    3. split into ``AFP_SEGMENTS`` equal time segments
       ``[k*n//S, (k+1)*n//S)``;
    4. per segment, per lag L in ``AFP_LAGS``: the lag-difference
       energy ``E[t][L] = sum_{i>=L} (x[i] - x[i-L])^2`` with
       differences taken WITHIN the segment (segments shorter than L
       contribute 0 — deterministic, replayable);
    5. bit (t, b) = 1 iff
       ``(E[t][b] - E[t][b+1]) - (E[t-1][b] - E[t-1][b+1]) > 0``
       with the t = -1 row all zeros — the Haitsma-Kalker
       sign-of-difference-of-differences over the 4 adjacent band
       pairs; bits pack LSB-first at position t*4 + b.

    Unsigned 64-bit result; callers convert to the signed LONG. Empty
    input (0 frames) returns 0 deterministically.
    """
    if samples.ndim == 1:
        samples = samples[:, None]
    mono = samples.astype(np.int64).sum(axis=1)
    n = mono.shape[0]
    if n == 0:
        return 0
    n_out = max(1, (n * AFP_RATE) // rate) if rate != AFP_RATE else n
    if n_out != n:
        idx = (np.arange(n_out, dtype=np.int64) * n) // n_out
        mono = mono[idx]
    else:
        n_out = n
    nb = len(AFP_LAGS)
    energy = np.zeros((AFP_SEGMENTS, nb), dtype=np.int64)
    for t in range(AFP_SEGMENTS):
        seg = mono[(t * n_out) // AFP_SEGMENTS:((t + 1) * n_out) // AFP_SEGMENTS]
        for b, lag in enumerate(AFP_LAGS):
            if seg.shape[0] > lag:
                d = seg[lag:] - seg[:-lag]
                energy[t, b] = int(np.dot(d, d))
    h = 0
    prev = np.zeros(nb - 1, dtype=np.int64)
    for t in range(AFP_SEGMENTS):
        cur = energy[t, :-1] - energy[t, 1:]
        for b in range(nb - 1):
            if cur[b] - prev[b] > 0:
                h |= 1 << (t * (nb - 1) + b)
        prev = cur
    return h


def _decode_any_samples(raw: bytes):
    """One dispatch for every native PCM decoder (WAV -> FLAC), the
    same chain ``resample_audio`` runs. ``(rate, samples) | None``."""
    from .flac import decode_flac_samples

    dec = decode_wav_samples(raw)
    if dec is None:
        dec = decode_flac_samples(raw)
    return dec


def audio_fingerprint(media: DataFrame, fake_decode: bool = False) -> DataFrame:
    """Acoustic fingerprint over the media table — ``(media_id, mime,
    afp, decoded)`` with one 64-bit LONG per clip, the audio twin of
    ``image_phash``. Decode policy is the module standard: real PCM
    for the native codecs (16-bit WAV, FLAC — the ``resample_audio``
    chain), deterministic payload-hash stand-in bits with
    ``decoded=False`` under ``fake_decode=True``, loud
    NotImplementedError otherwise (mp3/ogg decode needs an audio
    library this environment lacks). NULL payloads fingerprint to NULL
    (they cannot pair).

    Scale shape: Arrow-batched ``mapInPandas``, one decode per
    payload, binary column dropped on the way out — downstream pair
    generation shuffles only (id, 8-byte fingerprint)."""
    from .flac import sniff_flac

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append(
                        {
                            "media_id": media_id,
                            "mime": None,
                            "afp": None,
                            "decoded": False,
                        }
                    )
                    continue
                raw = bytes(payload)
                sniffed = sniff_wav(raw) or sniff_flac(raw)
                mime = sniffed["mime"] if sniffed else None
                dec = _decode_any_samples(raw)
                if dec is not None:
                    rate, samples = dec
                    h = _afp_bits(samples, rate)
                    decoded = True
                elif fake_decode:
                    h = int(hashlib.sha256(raw).hexdigest()[:16], 16)
                    decoded = False
                else:
                    raise NotImplementedError(
                        "audio_fingerprint needs a decodable payload "
                        "(16-bit PCM WAV and FLAC are native); this "
                        "payload requires an audio library, not "
                        "available in this environment — pass "
                        "fake_decode=True for the deterministic "
                        "stand-in"
                    )
                if h >= 1 << 63:
                    h -= 1 << 64
                rows.append(
                    {
                        "media_id": media_id,
                        "mime": mime,
                        "afp": h,
                        "decoded": decoded,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FP_SCHEMA.fields]
            )

    return media.select("media_id", "payload").mapInPandas(
        run, schema=AUDIO_FP_SCHEMA
    )


def audio_dup_pairs(
    media: DataFrame,
    max_hamming: int = 4,
    fake_decode: bool = False,
    max_bucket: int | None = DEDUP_DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Audio near-duplicate pairs: ``audio_fingerprint`` + the
    pigeonhole Hamming banding every fingerprint family rides
    (``dedup.hamming_pairs``) — ``(id_a, id_b, hamming)`` for every
    pair of clips whose fingerprints differ in <= ``max_hamming`` of
    the 64 bits. Exact recall at the fingerprint level; PCM never
    enters a shuffle — candidates and verify run on (id, 8 bytes)."""
    from .dedup import hamming_pairs

    fps = audio_fingerprint(media, fake_decode)
    return hamming_pairs(
        fps,
        hash_col="afp",
        id_col="media_id",
        nbits=AFP_NBITS,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def dedup_audio_against_corpus(
    new_media: DataFrame,
    corpus_index: DataFrame,
    max_hamming: int = 4,
    fake_decode: bool = False,
    max_bucket: int | None = DEDUP_DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental audio dedup: drop new clips whose fingerprint is
    within ``max_hamming`` bits of anything ALREADY INDEXED (corpus
    wins — the ``dedup_against_corpus`` semantics for the audio tier).
    The index is a persisted ``audio_fingerprint`` output ``(media_id,
    afp)`` — 8 bytes + an id per clip, PCM never stored (use
    ``save_afp_index``). A new batch decodes + fingerprints ONLY its
    own payloads and band-joins against the index
    (``dedup.hamming_pairs_against_corpus``); survivors append their
    fingerprints (``append_afp_index``).

    Does NOT dedup the new batch against itself — compose with
    ``audio_dup_pairs`` for that. Returns surviving ``new_media`` rows
    unchanged. Works per micro-batch inside ``foreachBatch``
    (``streaming.stream_audio_dedup_ingest`` is the packaged twin)."""
    from .dedup import hamming_pairs_against_corpus

    fps = audio_fingerprint(new_media, fake_decode)
    matched = (
        hamming_pairs_against_corpus(
            fps,
            corpus_index,
            hash_col="afp",
            id_col="media_id",
            nbits=AFP_NBITS,
            max_hamming=max_hamming,
            max_bucket=max_bucket,
        )
        .select(F.col("new_id").alias("media_id"))
        .distinct()
    )
    return new_media.join(matched, "media_id", "left_anti")


def save_afp_index(index: DataFrame, path: str) -> None:
    """Persist an audio-fingerprint index under this module's revision
    tag — the generic tagged artifact (``dedup.save_fp_index``), so a
    fingerprint revision can never be probed against an old index
    silently. ``index`` is any frame carrying ``media_id`` + ``afp``;
    only those two columns persist and NULL id/fingerprint rows
    drop."""
    from .dedup import save_fp_index

    save_fp_index(index, path, AFP_ALGO, id_col="media_id", hash_col="afp")


def append_afp_index(spark: SparkSession, path: str, fps: DataFrame) -> int:
    """Append survivor fingerprints to an EXISTING ``save_afp_index``
    artifact — the incremental half of the audio index (the next batch
    then dedups against these survivors too). The artifact is
    validated against this module's revision tag first; NULL
    id/fingerprint rows drop as at save. Returns rows appended."""
    from .dedup import append_fp_index

    return append_fp_index(spark, path, fps, AFP_ALGO)


def load_afp_index(spark: SparkSession, path: str) -> DataFrame:
    """Inverse of ``save_afp_index``: the ``(media_id, afp)`` index
    frame ready for ``dedup_audio_against_corpus``. Fails loudly on a
    root that is not a committed fingerprint artifact or an index
    built by a DIFFERENT fingerprint revision than this module
    computes — probing across revisions would silently match nothing
    meaningful."""
    from .dedup import load_fp_index

    return load_fp_index(spark, path, AFP_ALGO)[0]
