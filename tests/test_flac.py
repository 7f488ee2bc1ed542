"""Vendored FLAC codec (functions/flac.py): lossless round-trip across
subframe types, fail-loud structural/CRC/MD5 validation, and the
mixed-codec audio kernels (operators/audio.py signature routing)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from solana_etl_spark.functions import flac


def _sine(n, amp=8000, period=20.0):
    return [int(amp * np.sin(i / period)) for i in range(n)]


@pytest.mark.parametrize(
    "samples",
    [
        [],
        [123] * 500,  # CONSTANT subframe
        [5, -3, 7],  # shorter than any predictor order
        _sine(4000),  # FIXED prediction, single frame
        _sine(9000),  # multiple frames
        [32767, -32768] * 100,  # int16 extremes, huge residuals
    ],
    ids=["empty", "constant", "tiny", "sine", "multiframe", "extremes"],
)
def test_roundtrip_exact(samples):
    for force_verbatim in (False, True):
        rate, out = flac.decode(
            flac.encode_pcm16(8000, samples, force_verbatim=force_verbatim)
        )
        assert rate == 8000
        assert out.tolist() == samples


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), max_size=600
    ),
    st.sampled_from([256, 4096]),
)
def test_roundtrip_property(samples, block_size):
    rate, out = flac.decode(
        flac.encode_pcm16(11025, samples, block_size=block_size)
    )
    assert rate == 11025
    assert out.tolist() == samples


def test_reencodings_are_byte_different_but_sample_identical():
    """The corpus re-serve case: verbatim re-encode + PADDING block is a
    byte-different payload decoding to identical PCM."""
    s = _sine(2000)
    p1 = flac.encode_pcm16(8000, s)
    p2 = flac.encode_pcm16(8000, s, force_verbatim=True, padding=32)
    assert p1 != p2 and len(p2) > len(p1)
    assert flac.decode(p1)[1].tolist() == flac.decode(p2)[1].tolist() == s


def test_fixed_prediction_actually_compresses():
    s = _sine(4000)
    assert len(flac.encode_pcm16(8000, s)) < 0.5 * len(
        flac.encode_pcm16(8000, s, force_verbatim=True)
    )


def test_corrupt_frame_raises():
    pl = bytearray(flac.encode_pcm16(8000, _sine(4000)))
    pl[len(pl) // 2] ^= 0xFF
    with pytest.raises(ValueError, match="flac"):
        flac.decode(bytes(pl))


def test_truncated_raises():
    with pytest.raises(ValueError, match="flac"):
        flac.decode(flac.encode_pcm16(8000, _sine(4000))[:-10])


def test_bad_magic_raises():
    with pytest.raises(ValueError, match="not a FLAC payload"):
        flac.decode(b"RIFF1234WAVEfmt ")


def test_md5_mismatch_raises():
    """Samples flipped with frame CRCs recomputed still fail on the
    STREAMINFO MD5 — the lossless end-to-end proof."""
    s = _sine(1000)
    good = flac.encode_pcm16(8000, s, force_verbatim=True)
    bad_body = flac.encode_pcm16(
        8000, [x ^ 1 for x in s], force_verbatim=True
    )
    # keep good's metadata (incl. MD5 of the ORIGINAL stream), swap in
    # the frame section encoding different samples
    meta_end = 4 + 4 + 34  # magic + STREAMINFO header + body
    forged = good[:meta_end] + bad_body[meta_end:]
    with pytest.raises(ValueError, match="MD5 mismatch"):
        flac.decode(forged)


def test_stereo_and_wide_streams_rejected():
    pl = bytearray(flac.encode_pcm16(8000, _sine(100)))
    # STREAMINFO packed field starts at byte 4+4+10; channels live in
    # bits 41-43 of the 8-byte big-endian block
    off = 4 + 4 + 10
    packed = int.from_bytes(pl[off : off + 8], "big")
    forged = packed | (1 << 41)  # channels-1 = 1 -> stereo
    pl[off : off + 8] = forged.to_bytes(8, "big")
    with pytest.raises(ValueError, match="only mono 16-bit"):
        flac.decode(bytes(pl))


@pytest.mark.parametrize(
    "coefs,shift",
    [
        ([1], 0),  # order-1 trivial predictor
        ([3, -3, 1], 1),  # order-3 with shift
        ([1103, -879, 321, -47], 10),  # realistic quantized magnitudes
    ],
)
def test_lpc_roundtrip_exact(coefs, shift):
    """LPC subframes — the type real-world encoders emit almost
    exclusively — reconstruct losslessly; prediction is an exact
    integer dot product + arithmetic shift."""
    for samples in (_sine(3000), _sine(9000, amp=12000, period=7.0)):
        pl = flac.encode_pcm16(8000, samples, lpc=(coefs, shift))
        rate, out = flac.decode(pl)
        assert rate == 8000
        assert out.tolist() == samples
        # byte-different from the fixed-prediction encoding, same PCM
        assert pl != flac.encode_pcm16(8000, samples)


def test_lpc_corrupt_frame_raises():
    pl = bytearray(flac.encode_pcm16(8000, _sine(3000), lpc=([3, -3, 1], 1)))
    pl[len(pl) - 20] ^= 0xFF
    with pytest.raises(ValueError, match="flac"):
        flac.decode(bytes(pl))


def test_sample_range_enforced_on_encode():
    with pytest.raises(ValueError, match="int16 range"):
        flac.encode_pcm16(8000, [40000])


def test_audio_sniffer_routes_by_signature():
    from solana_etl_spark.functions import wav
    from solana_etl_spark.operators.audio import _sniff_audio_codec

    s = _sine(500)
    assert _sniff_audio_codec(flac.encode_pcm16(8000, s)) is flac
    assert _sniff_audio_codec(wav.encode_pcm16(8000, s)) is wav
    with pytest.raises(ValueError, match="neither wav nor flac"):
        _sniff_audio_codec(b"\x00\x01\x02\x03garbage")


def test_mixed_codec_kernels_agree_with_ground_truth(spark):
    """audio_decode_report and fingerprints over a mixed WAV+FLAC table:
    per-clip stats match the ground-truth arrays regardless of codec,
    and a FLAC re-encode of a WAV clip's PCM fingerprints identically."""
    from pyspark.sql import functions as F

    from solana_etl_spark.functions import wav
    from solana_etl_spark.operators.audio import (
        audio_decode_report,
        audio_fingerprints,
    )

    clips = {i: _sine(800 + 37 * i, amp=3000 + 500 * i) for i in range(6)}
    rows = []
    for i, s in clips.items():
        payload = (
            flac.encode_pcm16(8000, s)
            if i % 2
            else wav.encode_pcm16(8000, s)
        )
        rows.append((i, payload))
    # clip 6: FLAC carrying clip 0's exact PCM (cross-codec re-serve)
    rows.append((6, flac.encode_pcm16(8000, clips[0])))
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    report = {r["media_id"]: r for r in audio_decode_report(media).collect()}
    for i, s in clips.items():
        x = np.asarray(s, dtype=np.int64)
        assert report[i]["n_samples"] == x.size
        assert report[i]["sum_sq"] == int((x * x).sum())
        assert report[i]["peak_abs"] == int(np.abs(x).max())

    fps = {
        r["media_id"]: r["afp"] for r in audio_fingerprints(media).collect()
    }
    assert fps[6] == fps[0]


# ---- vectorized decode internals (r10) -------------------------------------


def test_crc16_vectorized_matches_bitwise():
    rng = np.random.default_rng(77)
    for n in (0, 1, 2, 3, 7, 8, 9, 63, 64, 65, 1000, 4096, 4097):
        data = bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
        assert flac._crc16(data) == flac._crc16_bitwise(data), n


def test_vectorized_residual_matches_scalar_reference():
    """_decode_residual (doubling-based rice reader + vectorized escape
    partitions) must reproduce the sequential bit-at-a-time walk exactly,
    across partition orders, rice parameters, escape partitions and both
    4-/5-bit parameter methods — including partition orders the encoder
    never emits (it writes order 0 only)."""
    rng = np.random.default_rng(5)

    def scalar_reference(br, blocksize, order):
        method = br.read(2)
        param_bits, escape = (4, 15) if method == 0 else (5, 31)
        part_order = br.read(4)
        nparts = 1 << part_order
        out = []
        for part in range(nparts):
            count = (blocksize >> part_order) - (order if part == 0 else 0)
            k = br.read(param_bits)
            if k == escape:
                raw = br.read(5)
                for _ in range(count):
                    out.append(br.read_signed(raw) if raw else 0)
            else:
                for _ in range(count):
                    q = br.read_unary()
                    u = (q << k) | (br.read(k) if k else 0)
                    out.append((u >> 1) ^ -(u & 1))
        return out

    for trial in range(30):
        blocksize = int(rng.choice([16, 64, 192, 256]))
        order = int(rng.integers(0, 4))
        part_order = int(rng.choice([0, 0, 1, 2]))
        if blocksize % (1 << part_order) or (blocksize >> part_order) < order:
            continue
        method = int(rng.integers(0, 2))
        param_bits, escape = (4, 15) if method == 0 else (5, 31)
        bw = flac._BitWriter()
        bw.write(method, 2)
        bw.write(part_order, 4)
        for part in range(1 << part_order):
            count = (blocksize >> part_order) - (order if part == 0 else 0)
            if rng.random() < 0.25:  # escaped-raw partition
                raw = int(rng.integers(0, 6))
                bw.write(escape, param_bits)
                bw.write(raw, 5)
                for _ in range(count):
                    bw.write(int(rng.integers(0, 1 << raw)) if raw else 0, raw)
            else:
                k = int(rng.integers(0, 6))
                bw.write(k, param_bits)
                for _ in range(count):
                    u = int(rng.integers(0, 40))
                    bw.write_unary(u >> k)
                    if k:
                        bw.write(u & ((1 << k) - 1), k)
        bw.align()
        data = bw.bytes() + b"\xff"  # trailing byte: reader must not eat it
        got = flac._decode_residual(
            flac._BitReader(data, 0), blocksize, order
        )
        want = scalar_reference(flac._BitReader(data, 0), blocksize, order)
        assert got.tolist() == want, f"trial {trial}"


def test_unary_cap_and_truncation_errors():
    # > 2^20 zero bits then a terminator: unbounded unary
    data = b"\x00" * ((1 << 17) + 8) + b"\x01"
    with pytest.raises(ValueError, match="unbounded unary"):
        flac._BitReader(data, 0).read_unary()
    # all-zero data ends before a terminator: truncated
    with pytest.raises(ValueError, match="truncated"):
        flac._BitReader(b"\x00" * 8, 0).read_unary()
    # the vectorized rice reader raises the same pair
    with pytest.raises(ValueError, match="truncated"):
        flac._read_rice_vec(flac._BitReader(b"\x00" * 8, 0), 2, 0)
    with pytest.raises(ValueError, match="unbounded unary"):
        flac._read_rice_vec(
            flac._BitReader(b"\x00" * ((1 << 17) + 8) + b"\x01", 0), 1, 0
        )
    # an over-cap code whose terminator IS found, followed by a code (or
    # low bits) running off the end: the sequential reader stops at the
    # earlier unbounded code, so the vectorized one must too
    over_cap = b"\x00" * ((1 << 17) + 8) + b"\x01"
    with pytest.raises(ValueError, match="unbounded unary"):
        flac._read_rice_vec(flac._BitReader(over_cap, 0), 2, 0)
    with pytest.raises(ValueError, match="unbounded unary"):
        flac._read_rice_vec(flac._BitReader(over_cap, 0), 1, 4)
    with pytest.raises(ValueError, match="unbounded unary"):
        br = flac._BitReader(over_cap, 0)
        for _ in range(2):
            br.read_unary()
