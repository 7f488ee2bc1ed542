"""Vendored minimal pure-Python PNG decoder — the real image-decode path
for this codec-less container.

Exposes the tiny PIL-compatible subset the multimodal kernels use
(``open(fp)`` → object with ``width`` / ``height`` / ``resize((w, h))`` /
``tobytes()`` usable as a context manager), so
``operators/multimodal.py``'s capability gate can fall back to it when
Pillow is not installed and ``image/png`` payloads get a REAL decode
(signature check, chunk walk, zlib inflate, per-row unfiltering) instead
of the deterministic stub. Non-PNG image payloads raise ValueError — a
corrupt payload fails the media job (naming the media_id,
``operators.multimodal.map_payloads``), never fakes dimensions.

Implements the common subset of the PNG spec (ISO/IEC 15948): 8-bit
samples, color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
6 (RGBA), filters 0-4 (None/Sub/Up/Average/Paeth), no interlace.
Resize is nearest-neighbor — deterministic, dependency-free.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Pixel-count ceiling for untrusted payloads (matches the spirit of
# Pillow's MAX_IMAGE_PIXELS decompression-bomb check).
_MAX_PIXELS = 64 * 1024 * 1024

# mimes this module can really decode — the multimodal capability gate
# routes ONLY these here (real PIL, when installed, handles all image/*);
# other image formats keep the deterministic stub rather than crashing on
# a perfectly valid JPEG
CAN_DECODE = ("image/png", "image/x-png")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter(raw: bytes, width: int, height: int, channels: int) -> list[bytearray]:
    stride = width * channels
    rows: list[bytearray] = []
    pos = 0
    prev = bytearray(stride)
    for _ in range(height):
        if pos + 1 + stride > len(raw):
            raise ValueError("png: truncated image data")
        ftype = raw[pos]
        row = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                row[i] = (row[i] + row[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                upleft = prev[i - channels] if i >= channels else 0
                row[i] = (row[i] + _paeth(left, prev[i], upleft)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"png: unknown filter type {ftype}")
        rows.append(row)
        prev = row
    return rows


class PngImage:
    """Decoded image: ``width``/``height``/``channels`` plus raw pixel rows.
    ``tobytes()`` yields the channel-interleaved pixel buffer (palette
    images are expanded to RGB)."""

    def __init__(self, width: int, height: int, channels: int, rows: list[bytearray]):
        self.width = width
        self.height = height
        self.channels = channels
        self._rows = rows

    def resize(self, size: tuple[int, int]) -> "PngImage":
        """Nearest-neighbor resample (deterministic, stdlib-only)."""
        w, h = int(size[0]), int(size[1])
        if w <= 0 or h <= 0:
            raise ValueError("png: resize dimensions must be positive")
        c = self.channels
        out: list[bytearray] = []
        for y in range(h):
            sy = y * self.height // h
            src = self._rows[sy]
            row = bytearray(w * c)
            for x in range(w):
                sx = x * self.width // w
                row[x * c : (x + 1) * c] = src[sx * c : (sx + 1) * c]
            out.append(row)
        return PngImage(w, h, c, out)

    def tobytes(self) -> bytes:
        return b"".join(bytes(r) for r in self._rows)

    def close(self) -> None:
        pass

    def __enter__(self) -> "PngImage":
        return self

    def __exit__(self, *exc) -> bool:
        return False


def open(fp) -> PngImage:  # noqa: A001 - mirrors PIL.Image.open
    """Decode a PNG from a file-like object (the PIL.Image.open subset the
    multimodal kernels call). Raises ValueError on anything that is not a
    decodable PNG — including truncated headers and corrupt zlib streams,
    which stdlib would otherwise surface as struct.error / zlib.error."""
    try:
        return _open(fp)
    except ValueError:
        raise
    except Exception as e:  # struct.error, zlib.error, IndexError, ...
        raise ValueError(f"png: undecodable ({type(e).__name__}: {e})") from e


def _open(fp) -> PngImage:
    data = fp.read()
    if not data.startswith(_SIGNATURE):
        raise ValueError("png: bad signature")
    pos = len(_SIGNATURE)
    width = height = None
    bit_depth = color_type = interlace = None
    palette = b""
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("png: missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"png: unsupported bit depth {bit_depth}")
    if color_type not in _CHANNELS:
        raise ValueError(f"png: unsupported color type {color_type}")
    if interlace != 0:
        raise ValueError("png: interlaced images unsupported")
    if not idat:
        raise ValueError("png: missing IDAT")
    channels = _CHANNELS[color_type]
    # Decompression-bomb guard: this decoder runs on untrusted scraped
    # payloads, so a crafted IDAT must raise ValueError, never expand
    # unbounded and OOM an executor. Raw scanline size is fully determined
    # by IHDR (height rows of 1 filter byte + width*channels samples);
    # reject absurd dims before allocating and cap inflate at exactly that.
    if width <= 0 or height <= 0 or width * height > _MAX_PIXELS:
        raise ValueError(f"png: implausible dimensions {width}x{height}")
    expected = height * (1 + width * channels)
    decomp = zlib.decompressobj()
    raw = decomp.decompress(bytes(idat), expected + 1)
    if len(raw) > expected:
        raise ValueError(
            f"png: IDAT inflates past the {expected}-byte scanline size "
            f"implied by IHDR ({width}x{height}, {channels} channels)"
        )
    rows = _unfilter(raw, width, height, channels)
    if color_type == 3:  # expand palette indexes to RGB
        if not palette:
            raise ValueError("png: palette image without PLTE")
        n_entries = len(palette) // 3
        for row in rows:
            for idx in row:
                if idx >= n_entries:
                    raise ValueError(
                        f"png: palette index {idx} out of range "
                        f"({n_entries} PLTE entries)"
                    )
        rows = [
            bytearray(
                b"".join(palette[3 * idx : 3 * idx + 3] for idx in row)
            )
            for row in rows
        ]
        channels = 3
    return PngImage(width, height, channels, rows)


def encode_gray(width: int, height: int, data: bytes) -> bytes:
    """Minimal grayscale-8 PNG writer (filter 0, one IDAT) — the encode
    half the synthetic image fixtures use so the decoder's production
    path gets exercised on REAL spec-conformant payloads. ``data`` is
    row-major, one byte per pixel, ``width * height`` long."""
    import binascii

    if len(data) != width * height:
        raise ValueError(
            f"png: payload is {len(data)} bytes, expected {width * height}"
        )

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", binascii.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + data[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        _SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )
