"""Vendored minimal pure-Python RIFF/WAV codec — the real audio-decode
path for this codec-less container.

Mirrors ``functions/png.py``'s role for the audio modality: the
multimodal kernels get a REAL decode (RIFF signature check, chunk walk
with word-alignment padding, fmt validation, PCM extraction) instead of
a deterministic stub, and a corrupt payload raises ValueError rather
than faking a duration (through ``operators.multimodal.map_payloads`` the
job fails with that error, naming the media_id).

Implements the common subset of the WAVE spec (RIFF "WAVE" form,
``fmt `` + ``data`` chunks): integer PCM (format tag 1), mono,
16-bit little-endian samples. Unknown chunks (``LIST``, ``fact``,
``cue ``, …) are skipped by the chunk walk — two byte-different files
carrying identical PCM decode identically, which is exactly the planted
re-serve case in the synthetic corpus. Nothing here depends on any
audio library: parsing is ``struct`` + ``numpy``.
"""

from __future__ import annotations

import struct

# Sample-count ceiling for untrusted payloads (the decompression-bomb
# posture of png.py's _MAX_PIXELS: a 4-byte declared chunk size must not
# drive an unbounded allocation).
_MAX_SAMPLES = 256 * 1024 * 1024  # 512 MiB of 16-bit PCM

# mimes this module can really decode — the multimodal capability gate
# routes ONLY these here; flac has its own vendored decoder
# (functions/flac.py), while lossy compressed audio (mp3, ogg) keeps
# the deterministic stub rather than mis-parsing a compressed stream.
CAN_DECODE = ("audio/wav", "audio/x-wav", "audio/wave")


def encode_pcm16(
    sample_rate: int,
    samples,
    extra_chunks: tuple = (),
) -> bytes:
    """Canonical mono 16-bit PCM WAV bytes for an int sample sequence.

    ``extra_chunks`` is a tuple of ``(fourcc: bytes, body: bytes)``
    inserted between ``fmt `` and ``data`` — the synthetic corpus uses it
    to re-serve identical PCM under byte-different files (a ``LIST``
    metadata chunk), proving the decoder walks chunks instead of assuming
    the 44-byte canonical layout."""
    import numpy as np

    pcm = np.asarray(samples, dtype=np.int64)
    if pcm.size and (pcm.max() > 32767 or pcm.min() < -32768):
        raise ValueError("wav: sample out of int16 range")
    data = pcm.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH",
        1,  # PCM
        1,  # mono
        sample_rate,
        sample_rate * 2,  # byte rate
        2,  # block align
        16,  # bits per sample
    )
    chunks = [(b"fmt ", fmt), *extra_chunks, (b"data", data)]
    body = bytearray(b"WAVE")
    for fourcc, payload in chunks:
        body += fourcc + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:  # RIFF chunks are word-aligned
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + bytes(body)


def decode(payload: bytes):
    """Parse a WAV payload → ``(sample_rate: int, samples: np.ndarray)``
    (int64 values of the 16-bit PCM stream).

    The chunk walk honors declared sizes and word-alignment padding and
    tolerates unknown chunks; anything structurally wrong — bad
    signature, truncated chunk, non-PCM/stereo/non-16-bit fmt, missing
    fmt or data, bomb-sized data — raises ValueError (never a fake
    decode), which fails the media job naming the row's media_id.
    """
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE payload")
    declared = struct.unpack("<I", payload[4:8])[0]
    if declared + 8 > len(payload):
        raise ValueError("wav: truncated RIFF payload")

    pos = 12
    fmt = None
    data = None
    end = 8 + declared
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        size = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        body_start = pos + 8
        if body_start + size > end:
            raise ValueError("wav: chunk overruns payload")
        if fourcc == b"fmt ":
            if size < 16:
                raise ValueError("wav: fmt chunk too small")
            fmt = struct.unpack(
                "<HHIIHH", payload[body_start : body_start + 16]
            )
        elif fourcc == b"data":
            data = payload[body_start : body_start + size]
        pos = body_start + size + (size % 2)

    if fmt is None:
        raise ValueError("wav: missing fmt chunk")
    if data is None:
        raise ValueError("wav: missing data chunk")
    tag, channels, rate, _byte_rate, _align, bits = fmt
    if tag != 1 or channels != 1 or bits != 16:
        raise ValueError(
            f"wav: unsupported format (tag={tag} channels={channels} "
            f"bits={bits}); only mono 16-bit PCM"
        )
    if rate <= 0:
        raise ValueError("wav: non-positive sample rate")
    n = len(data) // 2
    if n > _MAX_SAMPLES:
        raise ValueError("wav: data chunk exceeds sample ceiling")
    samples = np.frombuffer(data[: n * 2], dtype="<i2").astype(np.int64)
    return rate, samples
