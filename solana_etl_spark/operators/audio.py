"""Audio-modality kernels: real WAV and FLAC decode, clip-level signal
features, and perceptual fingerprint dedup.

Completes the multimodal surface (charter: image/audio/video as opaque
binary columns) the way ``operators/multimodal.py`` did for images: the
payload is an opaque ``binary`` column, the ONLY Python stage is one
decode kernel behind the shared Arrow boundary
(``operators.multimodal.map_payloads``) routed by payload signature
(``functions/wav.py`` for RIFF, ``functions/flac.py`` for fLaC — both
vendored, no audio library in this container, sharing the
``(rate, samples)`` contract), and everything downstream of the kernel
— fingerprint pair mining, dedup — stays JVM-side codegen via the
shared banded Hamming-LSH.

Every number a kernel emits is integer-exact (sums of squares, peak
magnitudes, cross-multiplied rational mean comparisons — no floats), so
the DuckDB oracles recompute them bit-for-bit from the synthetic
corpus's ground-truth sample arrays: a divergence anywhere in the RIFF
chunk walk fails the value hash.

Scale: decode is embarrassingly parallel over payload partitions
(Arrow-batched, no shuffle); fingerprints are 8 bytes/clip, and the
pair join shuffles (band, key) rows exactly like the image dHash path —
at 100 TB of audio the payload bytes never shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_spark.operators.multimodal import map_payloads

# 61 energy frames -> 60 gradient bits, matching the 60-bit geometry of
# the image dHash so banded_hamming_pairs (4 bands x 15 bits, exact by
# pigeonhole for max_hamming < 4) is shared unchanged. These constants
# are THE single home of the fingerprint geometry: the pair miner, the
# streaming index banding (streaming/media_stream.py), and the DuckDB
# oracles all derive from them — a drifted copy would silently break the
# pigeonhole guarantee between in-batch and cross-batch banding.
AFP_FRAMES = 61
AFP_BITS = AFP_FRAMES - 1
AFP_BANDS = 4
AFP_MAX_HAMMING = 3  # < AFP_BANDS: banded pairs stay pigeonhole-exact

DECODE_REPORT_SCHEMA = (
    "media_id long, sample_rate int, n_samples long, duration_us long, "
    "peak_abs long, sum_sq long, zero_crossings long"
)


def _sniff_audio_codec(payload: bytes):
    """Vendored audio codec by payload SIGNATURE (RIFF magic / fLaC
    magic) — the audio analogue of multimodal._sniff_codec: a mixed
    WAV+FLAC table needs no mime column on the decode path, both
    decoders share the ``(rate, samples)`` contract, and a payload that
    is neither raises ValueError (through ``map_payloads`` the job fails
    naming the media_id). A 4-byte RIFF or fLaC prefix routes to that
    codec even when the rest is corrupt: its own validation raises the
    detailed error the corrupt-payload tests pin."""
    from solana_etl_spark.functions import flac, wav

    if payload[:4] == b"RIFF":
        return wav
    if payload[:4] == b"fLaC":
        return flac
    raise ValueError("audio: neither wav nor flac payload signature")


def _clip_stats(rate: int, samples) -> tuple:
    """Integer clip features from a decoded PCM array: exact duration
    (floor microseconds), peak magnitude, energy (sum of squares), and
    strict sign-product zero crossings — each reproducible in portable
    SQL from the ground-truth sample array."""
    import numpy as np

    n = int(samples.size)
    duration_us = n * 1_000_000 // rate
    peak = int(np.abs(samples).max()) if n else 0
    sum_sq = int((samples * samples).sum()) if n else 0
    zc = int(((samples[:-1] * samples[1:]) < 0).sum()) if n > 1 else 0
    return rate, n, duration_us, peak, sum_sq, zc


def _decode(payload: bytes):
    """(rate, samples) from the vendored codec for the payload's signature."""
    return _sniff_audio_codec(payload).decode(payload)


def audio_decode_report(media: DataFrame) -> DataFrame:
    """(media_id, sample_rate, n_samples, duration_us, peak_abs, sum_sq,
    zero_crossings): one Arrow-batched :func:`map_payloads` pass decoding
    each payload with the vendored codec for its sniffed signature (WAV
    or FLAC). A corrupt payload fails the job with the codec's error,
    naming the media_id — the report never fakes a decode. Input needs
    (media_id, payload)."""
    return map_payloads(
        media, lambda p: (_clip_stats(*_decode(p)),), DECODE_REPORT_SCHEMA
    )


def _afp_from_samples(samples) -> int:
    """60-bit energy-gradient fingerprint of a PCM array. Sample i lands
    in frame ``i * AFP_FRAMES // n`` (exact integer binning — arbitrary
    clip lengths, no resampling); per-frame energy is the integer sum of
    squares; bit f is 1 iff frame f+1's MEAN energy strictly exceeds
    frame f's, compared as cross-multiplied rationals
    (e_r * n_l > e_l * n_r) so the whole hash is integer-exact.

    Uniformly scaling the signal multiplies every frame energy by the
    same square factor, leaving every comparison — hence the fingerprint
    — unchanged: re-mastered louder/quieter copies of a clip collide,
    which is exactly the dedup behavior wanted. An empty frame (clips
    shorter than AFP_FRAMES samples) contributes zero energy AND zero
    count, making both cross-products 0 — bit 0, same as the oracle's
    COALESCEd empty frame."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    n = x.size
    if n == 0:
        return 0
    frames = np.arange(n, dtype=np.int64) * AFP_FRAMES // n
    # int64 accumulator via add.at, NOT bincount(weights=...): bincount
    # accumulates weights in float64, which silently loses integer
    # exactness once a frame's Σx² passes 2^53 (~8M samples/frame)
    e = np.zeros(AFP_FRAMES, dtype=np.int64)
    np.add.at(e, frames, x * x)
    cnt = np.bincount(frames, minlength=AFP_FRAMES).astype(np.int64)
    # cross-products in PYTHON ints: e ≈ cnt·2^30, so e·cnt overflows
    # int64 around 6M-sample clips — far inside wav.py's sample ceiling
    el, cl = e.tolist(), cnt.tolist()
    return sum(
        (1 << f)
        for f in range(AFP_FRAMES - 1)
        if el[f + 1] * cl[f] > el[f] * cl[f + 1]
    )


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """(media_id, afp): Arrow-batched kernel (:func:`map_payloads`) —
    real WAV/FLAC decode by payload signature, then the 60-bit
    energy-gradient reduction. A corrupt payload fails the job with the
    codec's error, naming the media_id. Input needs (media_id, payload)."""
    return map_payloads(
        media,
        lambda p: ((_afp_from_samples(_decode(p)[1]),),),
        "media_id long, afp long",
    )


def fingerprint_pairs_from_sigs(
    sigs: DataFrame, max_hamming: int = AFP_MAX_HAMMING
) -> DataFrame:
    """Pair mining over an ALREADY-DECODED (media_id, afp) relation —
    the entry point for callers that must decode exactly once and reuse
    the signatures (streaming/media_stream.py)."""
    from solana_etl_spark.operators.dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        sigs,
        "media_id",
        "afp",
        bits=AFP_BITS,
        bands=AFP_BANDS,
        max_hamming=max_hamming,
    ).select(
        F.col("id_a").alias("clip_a"),
        F.col("id_b").alias("clip_b"),
        "hamming",
    )


def audio_fingerprint_pairs(
    media: DataFrame, max_hamming: int = AFP_MAX_HAMMING
) -> DataFrame:
    """Near-duplicate clip pairs (clip_a < clip_b, hamming ≤ max_hamming):
    fingerprints from real PCM decode, pairs via the shared banded
    Hamming-LSH (exact by pigeonhole for max_hamming < AFP_BANDS). The
    decode kernel is the only Python stage; pair mining stays codegen."""
    return fingerprint_pairs_from_sigs(
        audio_fingerprints(media), max_hamming=max_hamming
    )
