"""Vendored minimal pure-Python baseline JPEG (JFIF) decoder — the real
image-decode path for ``image/jpeg`` in this codec-less container
(Pillow absent), closing the r7 gap where a JPEG-dominated multimodal
crawl fell to the deterministic stub kernel.

Exposes the same tiny PIL-compatible subset as functions/png.py
(``open(fp)`` → object with ``width`` / ``height`` / ``channels`` /
``resize((w, h))`` / ``tobytes()``, context-managed), so
``operators/multimodal.py``'s capability gate routes ``image/jpeg``
payloads here when real PIL is unavailable. Undecodable payloads raise
ValueError — corrupt bytes fail the media job (naming the media_id,
``operators.multimodal.map_payloads``), never produce fake dimensions.

Scope (ITU-T T.81, the formats that dominate web crawls): baseline
sequential DCT (SOF0/1) and progressive DCT (SOF2 — spectral-selection
band scans and successive-approximation refinement scans, DC and AC,
including EOB runs and per-scan Huffman redefinition) with 8-bit
samples, Huffman entropy coding, 1 or 3 components, sampling factors
1-2 (4:4:4, 4:2:2, 4:2:0), restart intervals, 8/16-bit quantization
tables. Arithmetic coding, hierarchical/lossless frames, and 12-bit
precision raise ValueError with a named reason.

Determinism contract (JPEG's spec allows IDCT tolerance, so a decoder
must pin one): the IDCT is the naive separable float64 cosine transform
(``A @ F @ A.T``), rounded HALF-UP and clamped per sample; chroma
upsampling is pixel replication; YCbCr→RGB uses the JFIF constants with
the same round-half-up. The synthetic fixtures
(sources/synth.py) compute expected pixels through an independent
double-loop implementation of the identical formulas, so the Huffman /
zigzag / dequant / IDCT / upsample / color chain is cross-checked
end-to-end in tests and by the mm gate oracles.

``encode_gray_coeffs`` / ``encode_color_coeffs`` write spec-conformant
baseline files from QUANTIZED COEFFICIENT blocks (entropy encoding is
lossless on coefficients, unlike a forward DCT), which is what lets the
fixtures carry exact expected pixels; the ``encode_progressive_*``
twins write the same blocks as an SOF2 scan script, so a progressive
re-encode decodes bit-identically to its baseline sibling.
"""

from __future__ import annotations

import struct

from solana_etl_spark.functions.png import PngImage as _RawImage

CAN_DECODE = ("image/jpeg", "image/jpg", "image/pjpeg")

_MAX_PIXELS = 64 * 1024 * 1024  # decompression-bomb guard (PNG's value)

ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K (T.81) typical quantization tables, zigzag order NOT applied
# (these are in natural row-major order).
STD_LUMA_QUANT = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
STD_CHROMA_QUANT = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

# Annex K typical Huffman tables: (bits[1..16], huffval)
STD_DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
STD_DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
STD_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)
STD_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)


def _cos_table():
    """cos[u][x] = c(u)/2 · cos((2x+1)uπ/16) — the pinned float64 basis."""
    import math

    return [
        [
            (0.5 * math.sqrt(0.5) if u == 0 else 0.5)
            * math.cos((2 * x + 1) * u * math.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]


_COS = None


def _idct_block_pixels(deq) -> list[list[int]]:
    """Dequantized 8x8 coefficients (row-major lists, natural order) →
    8x8 level-shifted clamped samples. The evaluation order is pinned —
    an explicit separable float64 sum (inner over u left-to-right, outer
    over v left-to-right) with floor(x + 0.5) rounding — NOT a BLAS
    matrix product, whose reduction order varies across builds/platforms
    and flips samples that land on rounding boundaries. Skipping zero
    terms is float-exact (adding ±0.0 never changes an IEEE sum)."""
    import math

    global _COS
    if _COS is None:
        _COS = _cos_table()
    cos = _COS
    out = []
    for y in range(8):
        row_out = []
        for x in range(8):
            acc = 0.0
            for v in range(8):
                cv = cos[v][y]
                row = deq[v]
                inner = 0.0
                for u in range(8):
                    if row[u]:
                        inner += cos[u][x] * row[u]
                if inner:
                    acc += cv * inner
            # pinned op order: (+128.0) then (+0.5) then floor — one
            # fused +128.5 can differ at the last ulp
            row_out.append(
                max(0, min(255, int(math.floor((acc + 128.0) + 0.5))))
            )
        out.append(row_out)
    return out


def _idct_blocks(deq):
    """Batched pinned IDCT: ``(n, 8, 8)`` float64 dequantized coefficient
    blocks → ``(n, 8, 8)`` uint8 level-shifted clamped samples.

    Bit-identical to :func:`_idct_block_pixels` per block (r10, guide §4.2
    — vectorize ACROSS blocks/pixels, keep the coefficient op order): the
    u- then v-accumulations run as 8 ordered elementwise
    multiply-then-add passes, so every output element sees exactly the
    scalar form's sequence of IEEE float64 products and sums. The scalar
    form's zero-term skips (``if row[u]`` / ``if inner``) only ever avoid
    adding ``±0.0`` — which can change a sum's ZERO SIGN but never its
    value, and a ±0.0 accumulator rounds to the same 128 — so including
    those terms is float-exact. The final rounding keeps the pinned op
    order: (+128.0) then (+0.5) then floor, as separate elementwise adds.
    ``tests/test_jpeg.py`` pins batched ≡ scalar on random blocks."""
    import numpy as np

    global _COS
    if _COS is None:
        _COS = _cos_table()
    cos = np.asarray(_COS, dtype=np.float64)  # cos[u][x]
    n = deq.shape[0]
    inner = np.zeros((n, 8, 8), dtype=np.float64)  # [block, v, x]
    for u in range(8):
        inner += deq[:, :, u : u + 1] * cos[u]
    acc = np.zeros((n, 8, 8), dtype=np.float64)  # [block, y, x]
    for v in range(8):
        acc += cos[v][:, np.newaxis] * inner[:, v : v + 1, :]
    acc = acc + 128.0
    acc = acc + 0.5
    return np.clip(np.floor(acc), 0.0, 255.0).astype(np.uint8)


def _plane_from_blocks(blocks, bh_pad: int, bw_pad: int):
    """Raster-ordered ``(bh_pad*bw_pad, 8, 8)`` sample blocks → the
    ``(bh_pad*8, bw_pad*8)`` component plane (pure reshape/transpose — no
    per-block copies)."""
    return (
        blocks.reshape(bh_pad, bw_pad, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh_pad * 8, bw_pad * 8)
    )


def _round_half_up_clamp(arr):
    """floor(x + 0.5) clamped to [0, 255] — the pinned sample rounding
    (numpy's own round() is half-even and would differ at exact halves).
    Used on ELEMENTWISE float arrays only (color transform), where numpy
    ops are plain IEEE scalar ops — no reduction-order ambiguity."""
    import numpy as np

    return np.clip(np.floor(arr + 0.5), 0, 255).astype(np.uint8)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    unstuffing; RST markers are consumed by ``restart()``.

    A fill that runs into a real marker (RST or otherwise) serves AT
    MOST one 0xFF padding byte — a conforming stream never needs more
    (the encoder's final partial byte is padded in-stream with 1-bits,
    and this decoder reads Huffman codes bit-exactly, never looking
    ahead). A second padding request means the entropy data was
    truncated mid-scan, and completing the decode with synthesized bits
    would hand garbage pixels to a pipeline whose contract is a loud
    ValueError that fails the job."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0
        self.padded = False

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("jpeg: truncated entropy data")
        b = d[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(d):
                raise ValueError("jpeg: truncated entropy data")
            nxt = d[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                # a real marker (RST or scan-terminating): serve one
                # byte of 1-padding, then fail loudly (see class doc)
                if self.padded:
                    raise ValueError("jpeg: truncated entropy data")
                self.padded = True
                self.pos -= 1
                b = 0xFF
        self.buf = (self.buf << 8) | b
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return v

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.buf = 0
        self.nbits = 0
        self.padded = False
        d = self.data
        while self.pos + 1 < len(d) and not (
            d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 1
        if self.pos + 1 >= len(d):
            raise ValueError("jpeg: missing restart marker")
        self.pos += 2


def _build_huffman(bits, huffval):
    """Canonical Huffman → {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(huffval):
                raise ValueError("jpeg: malformed Huffman table")
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _decode_symbol(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bits(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("jpeg: invalid Huffman code")


def _extend(v: int, s: int) -> int:
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def open(fp) -> _RawImage:  # noqa: A001 - mirrors PIL.Image.open
    """Decode a baseline JPEG from a file-like object. Raises ValueError
    on anything undecodable (bad signature, progressive, truncation,
    bomb-guard violations)."""
    try:
        return _open(fp)
    except ValueError:
        raise
    except Exception as e:  # struct.error, IndexError, ZeroDivisionError...
        raise ValueError(
            f"jpeg: undecodable ({type(e).__name__}: {e})"
        ) from e


def _parse_dqt(body, qtables) -> None:
    p = 0
    while p < len(body):
        pq, tq = body[p] >> 4, body[p] & 15
        p += 1
        if pq == 0:
            vals = list(body[p : p + 64])
            p += 64
        else:
            vals = [
                struct.unpack(">H", body[p + 2 * i : p + 2 * i + 2])[0]
                for i in range(64)
            ]
            p += 128
        if len(vals) < 64:
            raise ValueError("jpeg: truncated DQT")
        nat = [0] * 64
        for i, z in enumerate(ZIGZAG):
            nat[z] = vals[i]
        qtables[tq] = nat


def _parse_dht(body, huff) -> None:
    p = 0
    while p < len(body):
        tc, th = body[p] >> 4, body[p] & 15
        bits = list(body[p + 1 : p + 17])
        n = sum(bits)
        huffval = list(body[p + 17 : p + 17 + n])
        huff[(tc, th)] = _build_huffman(bits, huffval)
        p += 17 + n


def _parse_sos(body):
    """SOS body → (scan_comps, Ss, Se, Ah, Al)."""
    ns = body[0]
    scan_comps = []
    for i in range(ns):
        cs = body[1 + 2 * i]
        td_ta = body[2 + 2 * i]
        scan_comps.append((cs, td_ta >> 4, td_ta & 15))
    ss = body[1 + 2 * ns]
    se = body[2 + 2 * ns]
    ah_al = body[3 + 2 * ns]
    return (scan_comps, ss, se, ah_al >> 4, ah_al & 15)


def _open(fp) -> _RawImage:
    data = fp.read()
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise ValueError("jpeg: bad signature")
    pos = 2
    qtables: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None  # (width, height, components)
    progressive = False
    restart_interval = 0
    scan = None

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            _parse_dqt(body, qtables)
        elif marker == 0xC4:  # DHT
            _parse_dht(body, huff)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            progressive = marker == 0xC2
            precision = body[0]
            if precision != 8:
                raise ValueError(f"jpeg: unsupported precision {precision}")
            height, width = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if ncomp not in (1, 3):
                raise ValueError(f"jpeg: unsupported component count {ncomp}")
            comps = []
            for i in range(ncomp):
                cid = body[6 + 3 * i]
                hv = body[7 + 3 * i]
                tq = body[8 + 3 * i]
                h, v = hv >> 4, hv & 15
                if h not in (1, 2) or v not in (1, 2):
                    raise ValueError(
                        f"jpeg: unsupported sampling factors {h}x{v}"
                    )
                comps.append({"id": cid, "h": h, "v": v, "tq": tq})
            frame = (width, height, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "jpeg: only baseline (SOF0/1) and progressive (SOF2) "
                "are supported"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            scan = _parse_sos(body)
            pos += seglen
            break  # entropy data follows
        pos += seglen

    if frame is None or scan is None:
        raise ValueError("jpeg: missing SOF/SOS")
    width, height, comps = frame
    if width <= 0 or height <= 0 or width * height > _MAX_PIXELS:
        raise ValueError(f"jpeg: implausible dimensions {width}x{height}")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    by_id = {c["id"]: c for c in comps}
    for c in comps:
        c["pw"] = mcux * 8 * c["h"]
        c["ph"] = mcuy * 8 * c["v"]
        c["pred"] = 0

    if progressive:
        _decode_progressive(
            data, pos, width, height, comps, by_id, qtables, huff,
            restart_interval, scan, mcux, mcuy, hmax, vmax,
        )
    else:
        _decode_baseline(
            data, pos, comps, by_id, qtables, huff, restart_interval,
            scan, mcux, mcuy,
        )
    return _assemble(width, height, comps, hmax, vmax)


def _decode_baseline(
    data, pos, comps, by_id, qtables, huff, restart_interval, scan,
    mcux, mcuy,
) -> None:
    """Sequential DCT: one interleaved scan. Entropy decode stays the
    sequential bitstream walk; the dequant + IDCT runs ONCE per component
    as a batched numpy pass over every block (r10, guide §4.2 — the
    per-block scalar IDCT was 73% of a 3.5 ms JPEG decode), bit-identical
    to the scalar form (see :func:`_idct_blocks`)."""
    import numpy as np

    scan_comps, _ss, _se, _ah, _al = scan
    order = []
    for cs, td, ta in scan_comps:
        c = by_id.get(cs)
        if c is None:
            raise ValueError("jpeg: scan references unknown component")
        c["dc"] = huff.get((0, td))
        c["ac"] = huff.get((1, ta))
        if c["dc"] is None or c["ac"] is None:
            raise ValueError("jpeg: scan references missing Huffman table")
        if c["tq"] not in qtables:
            raise ValueError("jpeg: missing quantization table")
        order.append(c)
    if len(order) != len(comps):
        raise ValueError("jpeg: non-interleaved baseline scans unsupported")

    for c in comps:
        # QUANTIZED coefficient blocks in MCU arrival order + each block's
        # raster index; dequant/IDCT/scatter happen batched after the scan
        c["_coefs"] = []
        c["_bidx"] = []

    reader = _BitReader(data, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                reader.restart()
                for c in comps:
                    c["pred"] = 0
            for c in order:
                bw_pad = c["pw"] // 8
                for bv in range(c["v"]):
                    for bh in range(c["h"]):
                        coeffs = [0] * 64
                        t = _decode_symbol(reader, c["dc"])
                        diff = _extend(reader.bits(t), t) if t else 0
                        c["pred"] += diff
                        coeffs[0] = c["pred"]
                        k = 0
                        while k < 63:
                            rs = _decode_symbol(reader, c["ac"])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r + 1
                            if k > 63:
                                raise ValueError("jpeg: AC index overflow")
                            coeffs[ZIGZAG[k]] = _extend(reader.bits(s), s)
                        c["_coefs"].append(coeffs)
                        c["_bidx"].append(
                            (my * c["v"] + bv) * bw_pad + mx * c["h"] + bh
                        )
            mcu_count += 1

    for c in comps:
        bh_pad, bw_pad = c["ph"] // 8, c["pw"] // 8
        q = np.asarray(qtables[c["tq"]], dtype=np.int64)
        quant = np.asarray(c.pop("_coefs"), dtype=np.int64).reshape(-1, 64)
        # int64 dequant then float64: both exact (|coef*q| < 2^47 < 2^53),
        # matching the scalar form's exact Python-int products
        deq = (quant * q).astype(np.float64).reshape(-1, 8, 8)
        blocks = _idct_blocks(deq)
        raster = np.empty_like(blocks)
        raster[np.asarray(c.pop("_bidx"), dtype=np.int64)] = blocks
        c["plane"] = _plane_from_blocks(raster, bh_pad, bw_pad)


def _assemble(width, height, comps, hmax, vmax) -> _RawImage:
    """Upsample (pixel replication), crop, and color-convert the decoded
    planes — shared by the baseline and progressive paths."""
    import numpy as np

    planes = []
    ys = np.arange(height, dtype=np.int64)
    xs = np.arange(width, dtype=np.int64)
    for c in comps:
        sy = ys * c["v"] // vmax
        sx = xs * c["h"] // hmax
        planes.append(c["plane"][np.ix_(sy, sx)])

    if len(comps) == 1:
        out = planes[0]
        rows = [bytearray(out[y].tobytes()) for y in range(height)]
        return _RawImage(width, height, 1, rows)

    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    r = _round_half_up_clamp(y + 1.402 * cr)
    g = _round_half_up_clamp(y - 0.344136 * cb - 0.714136 * cr)
    b = _round_half_up_clamp(y + 1.772 * cb)
    rgb = np.stack([r, g, b], axis=-1)
    rows = [bytearray(rgb[yy].tobytes()) for yy in range(height)]
    return _RawImage(width, height, 3, rows)


# --------------------------------------------------------------------------
# Progressive (SOF2) decode: scans carry spectral BANDS (Ss..Se) at
# successive approximations (Ah/Al bit precision). Coefficients
# accumulate QUANTIZED across scans per block; dequant + IDCT run once
# at the end. Algorithms follow T.81 Annex G.2 (the same logic public
# decoders implement): DC first/refine, AC first with EOB runs, AC
# refinement with correction bits.
# --------------------------------------------------------------------------


def _ac_first_block(reader, tab, coef, ss, se, al, eobrun) -> int:
    """First (Ah=0) AC scan for one block; returns the new EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_symbol(reader, tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:
                eobrun = (1 << r) - 1  # this block consumes one
                if r:
                    eobrun += reader.bits(r)
                break
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("jpeg: AC index overflow")
            coef[ZIGZAG[k]] = _extend(reader.bits(s), s) << al
            k += 1
    return eobrun


def _ac_refine_block(reader, tab, coef, ss, se, al, eobrun) -> int:
    """Refinement (Ah=Al+1) AC scan for one block: newly-significant
    coefficients arrive as ±2^Al, already-significant ones receive one
    correction bit each; returns the new EOB run."""
    p1 = 1 << al
    m1 = -p1
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_symbol(reader, tab)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.bits(r)
                    break
                # ZRL: skip 16 zero-history coefficients below
            else:
                if s != 1:
                    raise ValueError("jpeg: bad AC refinement symbol")
                val = p1 if reader.bits(1) else m1
            while k <= se:
                z = ZIGZAG[k]
                if coef[z] != 0:
                    if reader.bits(1) and (coef[z] & p1) == 0:
                        coef[z] += p1 if coef[z] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                coef[ZIGZAG[k]] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            z = ZIGZAG[k]
            if coef[z] != 0:
                if reader.bits(1) and (coef[z] & p1) == 0:
                    coef[z] += p1 if coef[z] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _next_marker(data: bytes, pos: int) -> int:
    """Position of the next real marker (0xFF + non-stuffing, non-RST
    byte) at or after ``pos``."""
    while pos + 1 < len(data):
        if (
            data[pos] == 0xFF
            and data[pos + 1] != 0x00
            and not (0xD0 <= data[pos + 1] <= 0xD7)
        ):
            return pos
        pos += 1
    raise ValueError("jpeg: missing end of scan")


def _decode_progressive(
    data, pos, width, height, comps, by_id, qtables, huff,
    restart_interval, scan, mcux, mcuy, hmax, vmax,
) -> None:
    import numpy as np

    for c in comps:
        c["bw_pad"] = c["pw"] // 8
        c["bh_pad"] = c["ph"] // 8
        cw = -(-width * c["h"] // hmax)  # component sample dims (ceil)
        ch = -(-height * c["v"] // vmax)
        c["bwc"] = -(-cw // 8)  # non-interleaved scans cover this grid
        c["bhc"] = -(-ch // 8)
        c["coefs"] = [
            [0] * 64 for _ in range(c["bw_pad"] * c["bh_pad"])
        ]

    while scan is not None:
        scan_comps, ss, se, ah, al = scan
        sel = []
        for cs, td, ta in scan_comps:
            c = by_id.get(cs)
            if c is None:
                raise ValueError("jpeg: scan references unknown component")
            sel.append((c, td, ta))
        reader = _BitReader(data, pos)
        eobrun = 0
        if ss == 0:
            if se != 0:
                raise ValueError("jpeg: DC scan with nonzero Se")
            dc_tabs = {}
            for c, td, _ta in sel:
                if ah == 0:
                    tab = huff.get((0, td))
                    if tab is None:
                        raise ValueError(
                            "jpeg: scan references missing Huffman table"
                        )
                    dc_tabs[c["id"]] = tab
                c["pred"] = 0

            def dc_block(c, coef, td):
                if ah == 0:
                    t = _decode_symbol(reader, dc_tabs[c["id"]])
                    diff = _extend(reader.bits(t), t) if t else 0
                    c["pred"] += diff
                    coef[0] = c["pred"] << al
                elif reader.bits(1):
                    coef[0] |= 1 << al

            if len(sel) == 1:
                c, td, _ta = sel[0]
                count = 0
                for by in range(c["bhc"]):
                    for bx in range(c["bwc"]):
                        if (
                            restart_interval
                            and count
                            and count % restart_interval == 0
                        ):
                            reader.restart()
                            c["pred"] = 0
                        dc_block(c, c["coefs"][by * c["bw_pad"] + bx], td)
                        count += 1
            else:
                mcu_count = 0
                for my in range(mcuy):
                    for mx in range(mcux):
                        if (
                            restart_interval
                            and mcu_count
                            and mcu_count % restart_interval == 0
                        ):
                            reader.restart()
                            for c, _td, _ta in sel:
                                c["pred"] = 0
                        for c, td, _ta in sel:
                            for bv in range(c["v"]):
                                for bh in range(c["h"]):
                                    bx = mx * c["h"] + bh
                                    by = my * c["v"] + bv
                                    dc_block(
                                        c,
                                        c["coefs"][by * c["bw_pad"] + bx],
                                        td,
                                    )
                        mcu_count += 1
        else:
            if len(sel) != 1:
                raise ValueError("jpeg: interleaved AC scan")
            if se > 63 or ss > se:
                raise ValueError("jpeg: bad spectral band")
            c, _td, ta = sel[0]
            tab = huff.get((1, ta))
            if tab is None:
                raise ValueError("jpeg: scan references missing Huffman table")
            count = 0
            for by in range(c["bhc"]):
                for bx in range(c["bwc"]):
                    if (
                        restart_interval
                        and count
                        and count % restart_interval == 0
                    ):
                        reader.restart()
                        eobrun = 0
                    coef = c["coefs"][by * c["bw_pad"] + bx]
                    if ah == 0:
                        eobrun = _ac_first_block(
                            reader, tab, coef, ss, se, al, eobrun
                        )
                    else:
                        eobrun = _ac_refine_block(
                            reader, tab, coef, ss, se, al, eobrun
                        )
                    count += 1

        # parse markers between scans (DHT/DQT/DRI/..., next SOS, EOI)
        pos = _next_marker(data, reader.pos)
        scan = None
        while pos + 2 <= len(data):
            marker = data[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI
                break
            if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
                continue
            (seglen,) = struct.unpack(">H", data[pos : pos + 2])
            body = data[pos + 2 : pos + seglen]
            if marker == 0xC4:
                _parse_dht(body, huff)
            elif marker == 0xDB:
                _parse_dqt(body, qtables)
            elif marker == 0xDD:
                (restart_interval,) = struct.unpack(">H", body[:2])
            elif marker == 0xDA:
                scan = _parse_sos(body)
                pos += seglen
                break
            pos += seglen

    # all scans consumed: dequantize + IDCT every stored block — one
    # batched numpy pass per component (r10, guide §4.2; bit-identical to
    # the scalar per-block form, see _idct_blocks). coefs is already in
    # raster block order, so the plane is a reshape of the block batch.
    for c in comps:
        q = qtables.get(c["tq"])
        if q is None:
            raise ValueError("jpeg: missing quantization table")
        quant = np.asarray(c["coefs"], dtype=np.int64).reshape(-1, 64)
        deq = (quant * np.asarray(q, dtype=np.int64)).astype(
            np.float64
        ).reshape(-1, 8, 8)
        c["plane"] = _plane_from_blocks(
            _idct_blocks(deq), c["bh_pad"], c["bw_pad"]
        )


# --------------------------------------------------------------------------
# Encoder half: spec-conformant baseline files from QUANTIZED COEFFICIENT
# blocks — entropy coding is lossless on coefficients, so fixtures can
# carry mathematically expected pixels (computed independently in
# sources/synth.py / tests from the same pinned IDCT formulas).
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.buf = (self.buf << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.buf)
                if self.buf == 0xFF:
                    self.out.append(0x00)
                self.buf = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.buf <<= 8 - self.nbits
            self.buf |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.buf)
            if self.buf == 0xFF:
                self.out.append(0x00)
            self.buf = 0
            self.nbits = 0


def _encode_table(bits, huffval):
    """symbol -> (code, length) for the canonical table."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _category(v: int) -> int:
    s = 0
    a = abs(v)
    while a:
        s += 1
        a >>= 1
    return s


def _encode_block(w: _BitWriter, coeffs, pred: int, dc_tab, ac_tab) -> int:
    """Entropy-encode one 8x8 quantized block (natural order); returns
    the new DC predictor."""
    dc = int(coeffs[0])
    diff = dc - pred
    s = _category(diff)
    code, length = dc_tab[s]
    w.write(code, length)
    if s:
        w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(coeffs[ZIGZAG[k]])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tab[0xF0]
            w.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_tab[(run << 4) | s]
        w.write(code, length)
        w.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, length = ac_tab[0x00]
        w.write(code, length)
    return dc


def _segment(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _dqt_body(tq: int, table_nat) -> bytes:
    return bytes([tq]) + bytes(table_nat[z] for z in ZIGZAG)


def _dht_body(tc: int, th: int, spec) -> bytes:
    bits, huffval = spec
    return bytes([(tc << 4) | th]) + bytes(bits) + bytes(huffval)


def encode_gray_coeffs(
    blocks, width: int, height: int, qtable=STD_LUMA_QUANT
) -> bytes:
    """Baseline grayscale JPEG from quantized 8x8 coefficient blocks in
    raster block order (``ceil(h/8) × ceil(w/8)`` blocks, each a 64-seq
    in NATURAL order). Coefficient magnitudes must fit the standard
    Huffman categories (|AC| < 1024, |DC diff| < 2048)."""
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    if len(blocks) != bw * bh:
        raise ValueError(f"jpeg: expected {bw * bh} blocks, got {len(blocks)}")
    dc_tab = _encode_table(*STD_DC_LUMA)
    ac_tab = _encode_table(*STD_AC_LUMA)
    w = _BitWriter()
    pred = 0
    for blk in blocks:
        pred = _encode_block(w, blk, pred, dc_tab, ac_tab)
    w.flush()
    return (
        b"\xff\xd8"
        + _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + _segment(0xDB, _dqt_body(0, qtable))
        + _segment(
            0xC0,
            struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]),
        )
        + _segment(0xC4, _dht_body(0, 0, STD_DC_LUMA))
        + _segment(0xC4, _dht_body(1, 0, STD_AC_LUMA))
        + _segment(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(w.out)
        + b"\xff\xd9"
    )


def encode_color_coeffs(
    y_blocks,
    cb_blocks,
    cr_blocks,
    width: int,
    height: int,
    subsample: bool = False,
    luma_q=STD_LUMA_QUANT,
    chroma_q=STD_CHROMA_QUANT,
) -> bytes:
    """Baseline YCbCr JPEG from quantized coefficient blocks. 4:4:4 when
    ``subsample`` is False (all three planes have ``ceil(h/8)×ceil(w/8)``
    blocks); 4:2:0 when True (luma at ``ceil(h/16)·2 × ceil(w/16)·2``
    blocks — the MCU-padded grid — chroma at ``ceil(h/16)×ceil(w/16)``).
    Blocks in raster order per plane, natural coefficient order."""
    if subsample:
        mcux = (width + 15) // 16
        mcuy = (height + 15) // 16
        ybw, ybh = mcux * 2, mcuy * 2
        cbw, cbh = mcux, mcuy
        y_hv = 0x22
    else:
        mcux = (width + 7) // 8
        mcuy = (height + 7) // 8
        ybw, ybh = mcux, mcuy
        cbw, cbh = mcux, mcuy
        y_hv = 0x11
    if len(y_blocks) != ybw * ybh:
        raise ValueError(f"jpeg: expected {ybw * ybh} luma blocks")
    if len(cb_blocks) != cbw * cbh or len(cr_blocks) != cbw * cbh:
        raise ValueError(f"jpeg: expected {cbw * cbh} chroma blocks")
    dc_l = _encode_table(*STD_DC_LUMA)
    ac_l = _encode_table(*STD_AC_LUMA)
    dc_c = _encode_table(*STD_DC_CHROMA)
    ac_c = _encode_table(*STD_AC_CHROMA)
    w = _BitWriter()
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            if subsample:
                for bv in range(2):
                    for bhh in range(2):
                        idx = (my * 2 + bv) * ybw + (mx * 2 + bhh)
                        preds[0] = _encode_block(
                            w, y_blocks[idx], preds[0], dc_l, ac_l
                        )
            else:
                preds[0] = _encode_block(
                    w, y_blocks[my * ybw + mx], preds[0], dc_l, ac_l
                )
            preds[1] = _encode_block(
                w, cb_blocks[my * cbw + mx], preds[1], dc_c, ac_c
            )
            preds[2] = _encode_block(
                w, cr_blocks[my * cbw + mx], preds[2], dc_c, ac_c
            )
    w.flush()
    return (
        b"\xff\xd8"
        + _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + _segment(0xDB, _dqt_body(0, luma_q))
        + _segment(0xDB, _dqt_body(1, chroma_q))
        + _segment(
            0xC0,
            struct.pack(">BHHB", 8, height, width, 3)
            + bytes([1, y_hv, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        + _segment(0xC4, _dht_body(0, 0, STD_DC_LUMA))
        + _segment(0xC4, _dht_body(1, 0, STD_AC_LUMA))
        + _segment(0xC4, _dht_body(0, 1, STD_DC_CHROMA))
        + _segment(0xC4, _dht_body(1, 1, STD_AC_CHROMA))
        + _segment(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        + bytes(w.out)
        + b"\xff\xd9"
    )


# --------------------------------------------------------------------------
# Progressive encoder: the same coefficient-block inputs as the baseline
# encoders, written as an SOF2 scan script exercising BOTH progressive
# mechanisms — spectral selection (split AC bands) and successive
# approximation (coefficients sent at Al=1, refined to full precision by
# a correction-bit scan). EOB runs are kept at 1 (plain EOB symbols), so
# the Annex K tables suffice; the decoder handles general EOBn runs.
# --------------------------------------------------------------------------


def _enc_dc_first(w: _BitWriter, dc_tab, dc: int, pred: int, al: int) -> int:
    """DC first-scan value (point-transformed, DPCM); returns new pred."""
    v = dc >> al  # arithmetic shift per T.81 DC point transform
    diff = v - pred
    s = _category(diff)
    code, length = dc_tab[s]
    w.write(code, length)
    if s:
        w.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    return v


def _enc_ac_first(w: _BitWriter, ac_tab, coef, ss: int, se: int, al: int):
    """First AC scan of one block over band ss..se at approximation al."""
    run = 0
    for k in range(ss, se + 1):
        v0 = int(coef[ZIGZAG[k]])
        v = abs(v0) >> al
        if v0 < 0:
            v = -v
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tab[0xF0]
            w.write(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_tab[(run << 4) | s]
        w.write(code, length)
        w.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, length = ac_tab[0x00]
        w.write(code, length)  # EOB (run of exactly 1)


def _enc_ac_refine(w: _BitWriter, ac_tab, coef, ss: int, se: int, al: int):
    """Refinement AC scan of one block (T.81 G.1.2.3 / the structure
    public encoders use): newly-significant coefficients (magnitude 1 at
    this approximation) emit (run<<4)|1 + sign; already-significant ones
    buffer one correction bit, flushed after the next symbol so the
    decoder reads bits in positional order."""
    vals = [abs(int(coef[ZIGZAG[k]])) >> al for k in range(ss, se + 1)]
    eob = 0  # index just past the LAST newly-significant coefficient
    for i, t in enumerate(vals):
        if t == 1:
            eob = i + 1
    run = 0
    br: list[int] = []
    for i, t in enumerate(vals):
        if t == 0:
            run += 1
            continue
        while run > 15 and i < eob:
            code, length = ac_tab[0xF0]
            w.write(code, length)
            run -= 16
            for b in br:
                w.write(b, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        code, length = ac_tab[(run << 4) | 1]
        w.write(code, length)
        w.write(1 if int(coef[ZIGZAG[ss + i]]) > 0 else 0, 1)
        for b in br:
            w.write(b, 1)
        br = []
        run = 0
    if run > 0 or br:
        code, length = ac_tab[0x00]
        w.write(code, length)  # EOB covering the band tail
        for b in br:
            w.write(b, 1)


def _sos_progressive(scan_comps, ss: int, se: int, ah: int, al: int) -> bytes:
    body = bytes([len(scan_comps)])
    for cs, td, ta in scan_comps:
        body += bytes([cs, (td << 4) | ta])
    body += bytes([ss, se, (ah << 4) | al])
    return _segment(0xDA, body)


def encode_progressive_gray_coeffs(
    blocks, width: int, height: int, qtable=STD_LUMA_QUANT
) -> bytes:
    """Progressive (SOF2) grayscale JPEG from the same quantized
    coefficient blocks as :func:`encode_gray_coeffs`. Scan script: DC at
    Al=1, DC refinement, AC bands 1-5 and 6-63 at Al=1 (spectral
    selection), then their Al=0 refinements (successive approximation).
    Decoded output is bit-identical to the baseline encoding of the same
    blocks — entropy layout changes, coefficients do not."""
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    if len(blocks) != bw * bh:
        raise ValueError(f"jpeg: expected {bw * bh} blocks, got {len(blocks)}")
    dc_tab = _encode_table(*STD_DC_LUMA)
    ac_tab = _encode_table(*STD_AC_LUMA)
    out = bytearray(b"\xff\xd8")
    out += _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _segment(0xDB, _dqt_body(0, qtable))
    out += _segment(
        0xC2,
        struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]),
    )
    out += _segment(0xC4, _dht_body(0, 0, STD_DC_LUMA))
    out += _segment(0xC4, _dht_body(1, 0, STD_AC_LUMA))

    w = _BitWriter()
    pred = 0
    for blk in blocks:
        pred = _enc_dc_first(w, dc_tab, int(blk[0]), pred, 1)
    w.flush()
    out += _sos_progressive([(1, 0, 0)], 0, 0, 0, 1) + bytes(w.out)

    w = _BitWriter()
    for blk in blocks:
        w.write(int(blk[0]) & 1, 1)
    w.flush()
    out += _sos_progressive([(1, 0, 0)], 0, 0, 1, 0) + bytes(w.out)

    for ss, se in ((1, 5), (6, 63)):
        w = _BitWriter()
        for blk in blocks:
            _enc_ac_first(w, ac_tab, blk, ss, se, 1)
        w.flush()
        out += _sos_progressive([(1, 0, 0)], ss, se, 0, 1) + bytes(w.out)
    for ss, se in ((1, 5), (6, 63)):
        w = _BitWriter()
        for blk in blocks:
            _enc_ac_refine(w, ac_tab, blk, ss, se, 0)
        w.flush()
        out += _sos_progressive([(1, 0, 0)], ss, se, 1, 0) + bytes(w.out)
    out += b"\xff\xd9"
    return bytes(out)


def encode_progressive_color_coeffs(
    y_blocks,
    cb_blocks,
    cr_blocks,
    width: int,
    height: int,
    subsample: bool = False,
    luma_q=STD_LUMA_QUANT,
    chroma_q=STD_CHROMA_QUANT,
) -> bytes:
    """Progressive (SOF2) YCbCr JPEG from the same coefficient blocks as
    :func:`encode_color_coeffs` — 4:4:4, or 4:2:0 when ``subsample``
    (the chroma layout progressive web encoders emit most). Scans:
    interleaved DC at Al=1 + refinement (MCU order, covering the padded
    luma grid under 4:2:0), then per component the two AC band scans at
    Al=1 and their refinements — AC scans are NON-interleaved per T.81,
    so under 4:2:0 they traverse only the component's own
    ``ceil(cw/8) × ceil(ch/8)`` block grid (MCU padding blocks stay
    DC-only; they are invisible after crop)."""
    if subsample:
        mcux = (width + 15) // 16
        mcuy = (height + 15) // 16
        ybw, ybh = mcux * 2, mcuy * 2
        cbw, cbh = mcux, mcuy
        y_hv = 0x22
        # non-interleaved AC grids: component sample dims / 8, ceil
        y_bwc, y_bhc = (width + 7) // 8, (height + 7) // 8
    else:
        mcux = (width + 7) // 8
        mcuy = (height + 7) // 8
        ybw, ybh = mcux, mcuy
        cbw, cbh = mcux, mcuy
        y_hv = 0x11
        y_bwc, y_bhc = ybw, ybh
    if len(y_blocks) != ybw * ybh:
        raise ValueError(f"jpeg: expected {ybw * ybh} luma blocks")
    if len(cb_blocks) != cbw * cbh or len(cr_blocks) != cbw * cbh:
        raise ValueError(f"jpeg: expected {cbw * cbh} chroma blocks")
    dc_l = _encode_table(*STD_DC_LUMA)
    dc_c = _encode_table(*STD_DC_CHROMA)
    ac_l = _encode_table(*STD_AC_LUMA)
    ac_c = _encode_table(*STD_AC_CHROMA)
    out = bytearray(b"\xff\xd8")
    out += _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _segment(0xDB, _dqt_body(0, luma_q))
    out += _segment(0xDB, _dqt_body(1, chroma_q))
    out += _segment(
        0xC2,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, y_hv, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += _segment(0xC4, _dht_body(0, 0, STD_DC_LUMA))
    out += _segment(0xC4, _dht_body(1, 0, STD_AC_LUMA))
    out += _segment(0xC4, _dht_body(0, 1, STD_DC_CHROMA))
    out += _segment(0xC4, _dht_body(1, 1, STD_AC_CHROMA))

    def mcu_luma_indices(my: int, mx: int):
        if subsample:
            return [
                (my * 2 + bv) * ybw + (mx * 2 + bhh)
                for bv in range(2)
                for bhh in range(2)
            ]
        return [my * ybw + mx]

    # interleaved DC first scan, MCU order
    w = _BitWriter()
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            for idx in mcu_luma_indices(my, mx):
                preds[0] = _enc_dc_first(
                    w, dc_l, int(y_blocks[idx][0]), preds[0], 1
                )
            ci = my * cbw + mx
            preds[1] = _enc_dc_first(w, dc_c, int(cb_blocks[ci][0]), preds[1], 1)
            preds[2] = _enc_dc_first(w, dc_c, int(cr_blocks[ci][0]), preds[2], 1)
    w.flush()
    out += _sos_progressive(
        [(1, 0, 0), (2, 1, 1), (3, 1, 1)], 0, 0, 0, 1
    ) + bytes(w.out)
    # interleaved DC refinement
    w = _BitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for idx in mcu_luma_indices(my, mx):
                w.write(int(y_blocks[idx][0]) & 1, 1)
            ci = my * cbw + mx
            w.write(int(cb_blocks[ci][0]) & 1, 1)
            w.write(int(cr_blocks[ci][0]) & 1, 1)
    w.flush()
    out += _sos_progressive(
        [(1, 0, 0), (2, 1, 1), (3, 1, 1)], 0, 0, 1, 0
    ) + bytes(w.out)
    # per-component AC band scans + refinements (non-interleaved: the
    # component's own block grid, row stride = its padded grid width)
    comp_grids = (
        (1, y_blocks, ac_l, 0, y_bwc, y_bhc, ybw),
        (2, cb_blocks, ac_c, 1, cbw, cbh, cbw),
        (3, cr_blocks, ac_c, 1, cbw, cbh, cbw),
    )
    for phase in ("first", "refine"):
        for cs, blks, ac_tab, ta, bwc, bhc, stride in comp_grids:
            for ss, se in ((1, 5), (6, 63)):
                w = _BitWriter()
                for by in range(bhc):
                    for bx in range(bwc):
                        blk = blks[by * stride + bx]
                        if phase == "first":
                            _enc_ac_first(w, ac_tab, blk, ss, se, 1)
                        else:
                            _enc_ac_refine(w, ac_tab, blk, ss, se, 0)
                w.flush()
                ah, al = (0, 1) if phase == "first" else (1, 0)
                out += _sos_progressive([(cs, 0, ta)], ss, se, ah, al)
                out += bytes(w.out)
    out += b"\xff\xd9"
    return bytes(out)
