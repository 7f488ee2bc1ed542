"""Vendored minimal pure-Python FLAC codec — the real decode path for
the crawl-dominant COMPRESSED lossless audio format.

Mirrors ``functions/wav.py``'s role: the multimodal kernels get a REAL
decode (magic + STREAMINFO parse, frame sync, CRC-8/CRC-16 verification,
rice-coded residual reconstruction, MD5 stream check) instead of a
deterministic stub, and a corrupt payload raises ValueError rather than
faking samples (through ``operators.multimodal.map_payloads`` the job
fails with that error, naming the media_id). FLAC is the right
first compressed codec for this engine's bit-determinism contract:
lossless and integer-exact, so the DuckDB oracles can recompute every
downstream feature from the ground-truth sample arrays and a divergence
ANYWHERE in the bitstream walk fails the value hash — something lossy
MP3 could never offer.

Implements the subset produced by this module's own encoder and common
in the wild for speech-sized mono material (format layout follows the
public FLAC specification, RFC 9639 / xiph.org):

* mono, 16-bit streams (the same contract as ``wav.py``)
* CONSTANT, VERBATIM, FIXED-prediction (order 0-4) and LPC subframes —
  LPC is what real-world encoders emit almost exclusively, and its
  integer dot-product + arithmetic-shift prediction is exact in Python
  ints, so it fits the bit-determinism contract — with rice/rice2
  residual partitions including the escaped-raw form
* wasted-bits decode, metadata-block skip (PADDING etc.), CRC-8 frame
  headers, CRC-16 frame footers, and the STREAMINFO MD5 of the decoded
  stream (verified when present — the lossless proof)

Nothing here depends on any audio library: parsing is pure ``int``
bit-twiddling + ``numpy`` for the sample arrays.
"""

from __future__ import annotations

import hashlib
import struct

# Sample-count ceiling for untrusted payloads (decompression-bomb
# posture shared with wav.py/_MAX_PIXELS: declared sizes must never
# drive an unbounded allocation).
_MAX_SAMPLES = 256 * 1024 * 1024

# mimes this module can really decode — the multimodal capability gate
# routes ONLY these here; other compressed audio (mp3, ogg) keeps the
# deterministic stub rather than mis-parsing a lossy stream.
CAN_DECODE = ("audio/flac", "audio/x-flac")

_SYNC = 0x3FFE  # 14-bit frame sync code


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x^1+1 (0x07), init 0 — FLAC frame headers.
    Bitwise loop kept as-is: headers are ~10 bytes, never hot."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_bitwise(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — FLAC frames.
    Reference implementation; :func:`_crc16` is the vectorized form the
    decoder uses (tests pin both equal on random messages)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


# Vectorized CRC-16 (r10, guide §4.2 — the bitwise loop was 28% of a
# 7.4 ms FLAC decode): FLAC's frame CRC has init 0 and no output xor, so
# it is GF(2)-LINEAR in the message — crc(A||B) = advance(crc(A),
# len(B) zero bytes) ^ crc(B), and leading zero bytes are the identity.
# That makes a logarithmic pairwise fold possible with nothing but table
# gathers: per-byte CRCs from the classic 256-entry table, then level k
# combines adjacent 2^k-byte blocks through a 65536-entry "advance the
# state by 2^k zero bytes" map (each level's map is the previous one
# composed with itself). All numpy; ~2n table lookups total.
_CRC16_BYTE = None  # uint16[256]: crc of one byte fed into state 0
_CRC16_ADV = []  # level k: uint16[65536] state -> state after 2^k zero bytes


def _crc16_tables(levels: int) -> None:
    global _CRC16_BYTE
    import numpy as np

    if _CRC16_BYTE is None:
        t = np.arange(256, dtype=np.uint32) << 8
        for _ in range(8):
            t = np.where(t & 0x8000, ((t << 1) ^ 0x8005) & 0xFFFF, (t << 1) & 0xFFFF)
        _CRC16_BYTE = t.astype(np.uint16)
    while len(_CRC16_ADV) < levels:
        if not _CRC16_ADV:
            s = np.arange(65536, dtype=np.uint32)
            adv1 = (_CRC16_BYTE[(s >> 8)].astype(np.uint32) ^ ((s << 8) & 0xFF00))
            _CRC16_ADV.append(adv1.astype(np.uint16))
        else:
            prev = _CRC16_ADV[-1]
            _CRC16_ADV.append(prev[prev])


def _crc16(data: bytes) -> int:
    import numpy as np

    n = len(data)
    if n == 0:
        return 0
    # front-pad to a power of two with zero bytes (the identity prefix
    # under init 0), then fold adjacent blocks level by level
    size = 1 << max(0, (n - 1).bit_length())
    levels = size.bit_length() - 1
    _crc16_tables(levels)
    crcs = np.zeros(size, dtype=np.uint16)
    crcs[size - n :] = _CRC16_BYTE[np.frombuffer(data, dtype=np.uint8)]
    for k in range(levels):
        crcs = _CRC16_ADV[k][crcs[0::2]] ^ crcs[1::2]
    return int(crcs[0])


_UNARY_CAP = 1 << 20


class _BitReader:
    """MSB-first bit reader over a bytes object. Refills the accumulator
    eight bytes at a time (r10 — the per-byte refill dominated residual
    decode), and ``read_unary`` counts a whole zero run in O(1) via
    ``int.bit_length`` on the accumulator instead of a read(1) loop."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos  # next byte index
        self.bits = 0  # bit accumulator
        self.nbits = 0  # bits available in accumulator

    def read(self, n: int) -> int:
        """n unsigned bits (MSB first); ValueError past end of data."""
        while self.nbits < n:
            take = min(8, len(self.data) - self.byte)
            if take <= 0:
                raise ValueError("flac: truncated bitstream")
            self.bits = (self.bits << (8 * take)) | int.from_bytes(
                self.data[self.byte : self.byte + take], "big"
            )
            self.byte += take
            self.nbits += 8 * take
        self.nbits -= n
        out = (self.bits >> self.nbits) & ((1 << n) - 1)
        self.bits &= (1 << self.nbits) - 1
        return out

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        """Count of 0 bits before the terminating 1 bit."""
        n = 0
        while True:
            if self.bits:
                zeros = self.nbits - self.bits.bit_length()
                n += zeros
                if n > _UNARY_CAP:
                    raise ValueError("flac: unbounded unary code")
                self.nbits -= zeros + 1
                self.bits &= (1 << self.nbits) - 1
                return n
            n += self.nbits
            self.nbits = 0
            if n > _UNARY_CAP:
                raise ValueError("flac: unbounded unary code")
            take = min(8, len(self.data) - self.byte)
            if take <= 0:
                raise ValueError("flac: truncated bitstream")
            self.bits = int.from_bytes(
                self.data[self.byte : self.byte + take], "big"
            )
            self.byte += take
            self.nbits = 8 * take

    def bitpos(self) -> int:
        """Absolute bit offset of the next unread bit."""
        return self.byte * 8 - self.nbits

    def seek_bit(self, pos: int) -> None:
        """Jump to absolute bit offset ``pos`` (used by the vectorized
        residual readers to hand positions back to the sequential walk)."""
        self.byte = pos >> 3
        rem = pos & 7
        self.bits = 0
        self.nbits = 0
        if rem:
            self.bits = self.data[self.byte] & ((1 << (8 - rem)) - 1)
            self.nbits = 8 - rem
            self.byte += 1

    def align(self) -> None:
        """Drop to the next byte boundary of the LOGICAL position. The
        accumulator may hold several whole buffered bytes (bulk refill) —
        only the sub-byte remainder is discarded."""
        drop = self.nbits & 7
        self.nbits -= drop
        self.bits &= (1 << self.nbits) - 1

    def tell(self) -> int:
        """Byte offset of the next unread byte (only valid when
        byte-aligned — i.e. the logical position, which with bulk refill
        can trail the physical read index by buffered whole bytes)."""
        return self.byte - (self.nbits >> 3)


class _BitWriter:
    """MSB-first bit writer."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, value: int) -> None:
        while value >= 32:
            self.write(0, 32)
            value -= 32
        self.write(1, value + 1)  # `value` zeros then a one

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


# fixed-predictor residual: residual[i] = sum of (-1)^j * C(o,j) * s[i-j]
# applied forward; reconstruction inverts it sample-by-sample
_FIXED_COEFS = {
    0: (),
    1: (1,),
    2: (2, -1),
    3: (3, -3, 1),
    4: (4, -6, 4, -1),
}


def _utf8_coded(value: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample index)."""
    if value < 0x80:
        return bytes([value])
    for nbytes, bits in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31)):
        if value < (1 << bits):
            out = bytearray()
            v = value
            for _ in range(nbytes - 1):
                out.insert(0, 0x80 | (v & 0x3F))
                v >>= 6
            out.insert(0, ((0xFF << (8 - nbytes)) & 0xFF) | v)
            return bytes(out)
    raise ValueError("flac: coded number out of range")


def _read_utf8_coded(br: _BitReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    ones = 0
    mask = 0x80
    while first & mask:
        ones += 1
        mask >>= 1
    if ones < 2 or ones > 7:
        raise ValueError("flac: bad coded number")
    value = first & (0xFF >> (ones + 1))
    for _ in range(ones - 1):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("flac: bad coded number continuation")
        value = (value << 6) | (b & 0x3F)
    return value


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _best_rice_k(us: list[int]) -> int:
    """Rice parameter minimizing the exact encoded bit count."""
    best_k, best_cost = 0, None
    for k in range(15):
        cost = sum((u >> k) + 1 + k for u in us)
        if best_cost is None or cost < best_cost:
            best_k, best_cost = k, cost
        elif cost > best_cost * 2:
            break  # cost is convex in k; stop once clearly past the min
    return best_k


def _encode_subframe(
    bw: _BitWriter,
    block: list[int],
    force_verbatim: bool,
    lpc: tuple | None = None,
):
    """One mono 16-bit subframe: CONSTANT when flat, else the best FIXED
    order in {0,1,2} rice-coded (single partition), else VERBATIM.
    ``lpc=(coefs, shift)`` forces an LPC subframe with those quantized
    predictor coefficients (residuals computed forward — any
    coefficients are valid, compression just varies), used by fixtures
    to exercise the decode path real-world encoders emit."""
    n = len(block)
    if lpc is not None and n > len(lpc[0]):
        coefs, shift = lpc
        order = len(coefs)
        precision = max(2, max(abs(c).bit_length() for c in coefs) + 1)
        if precision > 15 or not (0 <= shift < 16):
            raise ValueError("flac: LPC parameters out of range")
        res = [
            block[i]
            - (
                sum(c * block[i - 1 - j] for j, c in enumerate(coefs))
                >> shift
            )
            for i in range(order, n)
        ]
        us = [(r << 1) if r >= 0 else ((-r << 1) - 1) for r in res]
        k = _best_rice_k(us)
        bw.write(0, 1)
        bw.write(32 + order - 1, 6)  # LPC, order
        bw.write(0, 1)  # no wasted bits
        for s in block[:order]:  # warm-up
            bw.write(s & 0xFFFF, 16)
        bw.write(precision - 1, 4)
        bw.write(shift, 5)
        for c in coefs:
            bw.write(c & ((1 << precision) - 1), precision)
        bw.write(0, 2)  # residual method: rice
        bw.write(0, 4)  # partition order 0
        bw.write(k, 4)
        for u in us:
            bw.write_unary(u >> k)
            if k:
                bw.write(u & ((1 << k) - 1), k)
        return
    if not force_verbatim and n and all(s == block[0] for s in block):
        bw.write(0, 1)
        bw.write(0, 6)  # CONSTANT
        bw.write(0, 1)  # no wasted bits
        bw.write(block[0] & 0xFFFF, 16)
        return
    if force_verbatim or n < 3:
        bw.write(0, 1)
        bw.write(1, 6)  # VERBATIM
        bw.write(0, 1)
        for s in block:
            bw.write(s & 0xFFFF, 16)
        return
    best = None
    for order in (0, 1, 2):
        coefs = _FIXED_COEFS[order]
        res = [
            block[i] - sum(c * block[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, n)
        ]
        cost = sum(abs(r) for r in res)
        if best is None or cost < best[2]:
            best = (order, res, cost)
    order, res, _ = best
    us = [(r << 1) if r >= 0 else ((-r << 1) - 1) for r in res]
    k = _best_rice_k(us)
    bw.write(0, 1)
    bw.write(8 + order, 6)  # FIXED, order
    bw.write(0, 1)  # no wasted bits
    for s in block[:order]:  # warm-up
        bw.write(s & 0xFFFF, 16)
    bw.write(0, 2)  # residual method: rice (4-bit params)
    bw.write(0, 4)  # partition order 0 → one partition
    bw.write(k, 4)
    for u in us:
        bw.write_unary(u >> k)
        if k:
            bw.write(u & ((1 << k) - 1), k)


def encode_pcm16(
    sample_rate: int,
    samples,
    block_size: int = 4096,
    force_verbatim: bool = False,
    padding: int = 0,
    lpc: tuple | None = None,
) -> bytes:
    """Canonical mono 16-bit FLAC bytes for an int sample sequence.

    ``force_verbatim`` disables prediction (byte-different encodings of
    identical PCM — the synthetic corpus's re-serve case, proving the
    decoder reconstructs samples instead of hashing bytes). ``padding``
    adds a PADDING metadata block of that many zero bytes (the FLAC
    analogue of wav.py's ``extra_chunks``). ``lpc=(coefs, shift)``
    writes LPC subframes with those quantized predictor coefficients —
    the subframe type real-world encoders emit almost exclusively."""
    samples = [int(s) for s in samples]
    if any(s > 32767 or s < -32768 for s in samples):
        raise ValueError("flac: sample out of int16 range")
    if not (0 < sample_rate < (1 << 20)):
        raise ValueError("flac: sample rate out of range")

    frames = bytearray()
    for idx, start in enumerate(range(0, max(len(samples), 1), block_size)):
        block = samples[start : start + block_size]
        if not block:
            break
        bw = _BitWriter()
        bw.write(_SYNC, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed blocking
        bw.write(0b0111, 4)  # blocksize: 16-bit value follows
        bw.write(0b0000, 4)  # sample rate: from STREAMINFO
        bw.write(0, 4)  # channel assignment: mono
        bw.write(0b100, 3)  # 16 bits per sample
        bw.write(0, 1)  # reserved
        for b in _utf8_coded(idx):
            bw.write(b, 8)
        bw.write(len(block) - 1, 16)
        bw.align()
        header = bw.bytes()
        bw.write(_crc8(header), 8)
        _encode_subframe(bw, block, force_verbatim, lpc=lpc)
        bw.align()
        body = bw.bytes()
        frames += body + struct.pack(">H", _crc16(body))

    md5 = hashlib.md5(
        b"".join(struct.pack("<h", s) for s in samples)
    ).digest()
    info = bytearray()
    info += struct.pack(">HH", block_size, block_size)
    info += b"\x00\x00\x00" * 2  # min/max framesize unknown
    packed = (sample_rate << 44) | (0 << 41) | (15 << 36) | len(samples)
    info += packed.to_bytes(8, "big")  # rate(20) ch-1(3) bps-1(5) total(36)
    info += md5
    header_blocks = bytearray()
    last = 0x80 if padding <= 0 else 0x00
    header_blocks += bytes([last | 0]) + len(info).to_bytes(3, "big") + info
    if padding > 0:
        header_blocks += (
            bytes([0x80 | 1]) + padding.to_bytes(3, "big") + b"\x00" * padding
        )
    return b"fLaC" + bytes(header_blocks) + bytes(frames)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def _read_fixed_signed_vec(br: _BitReader, count: int, width: int):
    """``count`` consecutive ``width``-bit signed fields as an int64
    array — the vectorized twin of a ``read_signed`` loop (VERBATIM
    subframes, escaped-raw residual partitions, warm-up samples). Reads
    straight from the unpacked bit window and seeks the reader past the
    fields; bit-identical by construction (fixed-width big-endian fields,
    two's-complement sign extension)."""
    import numpy as np

    if count == 0:
        return np.zeros(0, dtype=np.int64)
    start = br.bitpos()
    end = start + count * width
    if end > len(br.data) * 8:
        raise ValueError("flac: truncated bitstream")
    first_byte = start >> 3
    win = np.frombuffer(
        br.data, dtype=np.uint8, count=((end + 7) >> 3) - first_byte,
        offset=first_byte,
    )
    bits = np.unpackbits(win)
    off = start - first_byte * 8
    idx = off + np.arange(count, dtype=np.int64)[:, None] * width + np.arange(
        width, dtype=np.int64
    )
    weights = np.left_shift(np.int64(1), np.arange(width - 1, -1, -1, dtype=np.int64))
    vals = (bits[idx].astype(np.int64) * weights).sum(axis=1)
    sign = np.int64(1) << (width - 1)
    vals = np.where(vals & sign, vals - (np.int64(1) << width), vals)
    br.seek_bit(end)
    return vals


def _read_rice_vec(br: _BitReader, count: int, k: int):
    """``count`` rice(k) residuals as an int64 array — the vectorized
    twin of the ``read_unary`` + ``read(k)`` + zigzag loop (r10, guide
    §4.2: this loop was the dominant per-sample cost of FLAC decode).

    The unary terminators are found without any per-sample Python: over
    the unpacked bit window, ``succ[j] = searchsorted(ones, ones[j]+1+k)``
    maps each 1-bit to the terminator that would follow it if it were a
    terminator, and the actual terminator sequence is the orbit of the
    first terminator under ``succ`` — filled in log2(count) doubling
    steps (orbit[i+2^p] = succ^(2^p)(orbit[i])), each one vectorized
    gather. Zero runs and low bits then come from pure arithmetic on the
    terminator positions. Errors match the sequential reader: a
    terminator preceded by more than 2^20 zeros raises "unbounded unary
    code"; codes running past end-of-data raise "truncated bitstream"
    (when both apply, the zero run hits the data end first and the
    available-zeros count decides, same as the bit-at-a-time walk). The
    bit window starts at a size bound derived from rice-optimal streams
    and doubles on miss, so hostile payloads never force a full unpack
    up front."""
    import numpy as np

    if count == 0:
        return np.zeros(0, dtype=np.int64)
    start = br.bitpos()
    total_bits = len(br.data) * 8
    win_bits = min(total_bits - start, count * (k + 34) + 8 * 4096)
    while True:
        first_byte = start >> 3
        end_byte = min((start + win_bits + 7) >> 3, len(br.data))
        bits = np.unpackbits(
            np.frombuffer(
                br.data, dtype=np.uint8, count=end_byte - first_byte,
                offset=first_byte,
            )
        )
        nwin = len(bits)
        start_rel = start - first_byte * 8
        ones = np.flatnonzero(bits).astype(np.int64)
        sentinel = len(ones)
        succ = np.searchsorted(ones, ones + 1 + k).astype(np.int64)
        fmap = np.append(succ, sentinel)
        j0 = int(np.searchsorted(ones, start_rel))
        orbit = np.empty(count, dtype=np.int64)
        orbit[0] = min(j0, sentinel)
        filled = 1
        while filled < count:
            take = min(filled, count - filled)
            orbit[filled : filled + take] = fmap[orbit[:take]]
            filled += take
            if filled < count:
                fmap = fmap[fmap]  # succ^(2^p) -> succ^(2^(p+1))
        if sentinel:
            term = np.where(
                orbit < sentinel, ones[np.minimum(orbit, sentinel - 1)], nwin
            )
        else:
            term = np.full(count, nwin, dtype=np.int64)
        s = np.empty(count, dtype=np.int64)
        s[0] = start_rel
        if count > 1:
            s[1:] = term[:-1] + 1 + k
        missing = orbit >= sentinel
        complete = not bool(missing.any()) and (int(term[-1]) + 1 + k <= nwin)
        if not complete and end_byte < len(br.data):
            win_bits = min(total_bits - start, win_bits * 8)
            continue
        if not complete:
            # window is the whole remaining payload: raise what the
            # sequential reader would have at the first bad code — a
            # found terminator past the unary cap before the first
            # missing one, or a terminator never found with more than the
            # cap of zero bits available, is "unbounded"; anything else
            # ran off the end of the data
            bad = int(np.argmax(missing)) if missing.any() else count
            if (term[:bad] - s[:bad] > _UNARY_CAP).any():
                raise ValueError("flac: unbounded unary code")
            if bad < count and nwin - int(s[bad]) > _UNARY_CAP:
                raise ValueError("flac: unbounded unary code")
            raise ValueError("flac: truncated bitstream")
        q = term - s
        if (q > _UNARY_CAP).any():
            raise ValueError("flac: unbounded unary code")
        if k:
            idx = term[:, None] + 1 + np.arange(k, dtype=np.int64)
            weights = np.left_shift(
                np.int64(1), np.arange(k - 1, -1, -1, dtype=np.int64)
            )
            low = (bits[idx].astype(np.int64) * weights).sum(axis=1)
        else:
            low = np.int64(0)
        u = (q << k) | low
        vals = (u >> 1) ^ -(u & 1)
        br.seek_bit(first_byte * 8 + int(term[-1]) + 1 + k)
        return vals


def _decode_subframe(br: _BitReader, blocksize: int):
    """One subframe → int64 sample array. Entropy fields and residuals
    read through the vectorized twins above; prediction reconstruction
    is cumsum-based for FIXED orders (the binomial coefficients make the
    o-th difference the residual, so o seeded cumsums reconstruct
    exactly in int64) and a tight sequential loop for LPC (the
    dot-product >> shift quantizes per step, so the recurrence cannot
    vectorize; exact Python ints as before)."""
    import numpy as np

    if br.read(1) != 0:
        raise ValueError("flac: bad subframe padding bit")
    sf_type = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    bps = 16 - wasted
    if bps <= 0:
        raise ValueError("flac: wasted bits exceed sample size")
    if sf_type == 0:  # CONSTANT
        v = br.read_signed(bps)
        out = np.full(blocksize, v, dtype=np.int64)
    elif sf_type == 1:  # VERBATIM
        out = _read_fixed_signed_vec(br, blocksize, bps)
    elif 8 <= sf_type <= 12:  # FIXED, order 0-4
        order = sf_type - 8
        if order > blocksize:
            raise ValueError("flac: predictor order exceeds blocksize")
        warm = _read_fixed_signed_vec(br, order, bps)
        res = _decode_residual(br, blocksize, order)
        # reconstruct via seeded cumsums: res is the order-th forward
        # difference of the samples, and each integration level's seed is
        # that level's difference at the last warm-up index — all int64
        # (legitimate 16-bit streams keep every level < 2^21)
        cur = res
        for j in range(order - 1, -1, -1):
            seed = int(np.diff(warm, n=j)[-1]) if order else 0
            cur = seed + np.cumsum(cur)
        out = np.concatenate([warm, cur]) if order else cur
    elif sf_type >= 32:  # LPC, order = (type & 31) + 1
        order = (sf_type & 31) + 1
        if order > blocksize:
            raise ValueError("flac: predictor order exceeds blocksize")
        warm = _read_fixed_signed_vec(br, order, bps)
        precision = br.read(4)
        if precision == 15:
            raise ValueError("flac: invalid LPC precision")
        precision += 1
        shift = br.read(5)
        if shift & 0x10:
            raise ValueError("flac: negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        res = _decode_residual(br, blocksize, order)
        # prediction is an integer dot product arithmetic-shifted right —
        # exact in Python ints, so LPC decode stays bit-deterministic
        out_list = warm.tolist() + res.tolist()
        if order == 1:
            (c0,) = coefs
            prev = out_list[0]
            for i in range(1, blocksize):
                prev = out_list[i] + ((c0 * prev) >> shift)
                out_list[i] = prev
        elif order == 2:
            c0, c1 = coefs
            p2, p1 = out_list[0], out_list[1]
            for i in range(2, blocksize):
                v = out_list[i] + ((c0 * p1 + c1 * p2) >> shift)
                out_list[i] = v
                p2, p1 = p1, v
        elif order == 3:
            c0, c1, c2 = coefs
            p3, p2, p1 = out_list[0], out_list[1], out_list[2]
            for i in range(3, blocksize):
                v = out_list[i] + ((c0 * p1 + c1 * p2 + c2 * p3) >> shift)
                out_list[i] = v
                p3, p2, p1 = p2, p1, v
        else:
            rng = range(order)
            for i in range(order, blocksize):
                acc = 0
                for j in rng:
                    acc += coefs[j] * out_list[i - 1 - j]
                out_list[i] += acc >> shift
        out = np.asarray(out_list, dtype=np.int64)
    else:
        raise ValueError(f"flac: reserved subframe type {sf_type}")
    if wasted:
        out = out << wasted
    return out


def _decode_residual(br: _BitReader, blocksize: int, order: int):
    """Rice-coded residual values (before prediction reconstruction) as
    one int64 array of ``blocksize - order`` entries."""
    import numpy as np

    method = br.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual method")
    param_bits, escape = (4, 15) if method == 0 else (5, 31)
    part_order = br.read(4)
    nparts = 1 << part_order
    if blocksize % nparts:
        raise ValueError("flac: bad residual partition order")
    pieces = []
    for part in range(nparts):
        count = (blocksize >> part_order) - (order if part == 0 else 0)
        if count < 0:
            raise ValueError("flac: bad residual partition order")
        k = br.read(param_bits)
        if k == escape:
            raw = br.read(5)
            if raw:
                pieces.append(_read_fixed_signed_vec(br, count, raw))
            else:
                pieces.append(np.zeros(count, dtype=np.int64))
        else:
            pieces.append(_read_rice_vec(br, count, k))
    return pieces[0] if len(pieces) == 1 else np.concatenate(pieces)


def decode(payload: bytes):
    """Parse a FLAC payload → ``(sample_rate: int, samples: np.ndarray)``
    (int64 values of the decoded 16-bit PCM stream).

    Verifies the frame-header CRC-8, the frame CRC-16, and — the
    lossless proof — the STREAMINFO MD5 of the decoded stream when
    present. Anything structurally wrong (bad magic, missing STREAMINFO,
    stereo/non-16-bit streams, LPC subframes, truncation, CRC or MD5
    mismatch, bomb-sized declared counts) raises ValueError, which fails
    the media job naming the row's media_id.
    """
    import numpy as np

    if len(payload) < 8 or payload[:4] != b"fLaC":
        raise ValueError("flac: not a FLAC payload")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("flac: truncated metadata block header")
        last = payload[pos] & 0x80
        btype = payload[pos] & 0x7F
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("flac: truncated metadata block")
        if btype == 0:
            streaminfo = body
        elif btype == 127:
            raise ValueError("flac: invalid metadata block type")
        pos += 4 + length
        if last:
            break
    if streaminfo is None or len(streaminfo) != 34:
        raise ValueError("flac: missing or malformed STREAMINFO")
    packed = int.from_bytes(streaminfo[10:18], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bps = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    md5 = streaminfo[18:34]
    if rate <= 0:
        raise ValueError("flac: non-positive sample rate")
    if channels != 1 or bps != 16:
        raise ValueError(
            f"flac: unsupported stream (channels={channels} bps={bps}); "
            "only mono 16-bit"
        )
    if total > _MAX_SAMPLES:
        raise ValueError("flac: stream exceeds sample ceiling")

    parts = []  # int64 sample arrays, one per frame
    n_samples = 0
    while pos < len(payload):
        frame_start = pos
        br = _BitReader(payload, pos)
        if br.read(14) != _SYNC:
            raise ValueError("flac: lost frame sync")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        chan = br.read(4)
        ss_code = br.read(3)
        br.read(1)  # reserved
        if chan != 0:
            raise ValueError("flac: unsupported channel assignment")
        if ss_code not in (0b000, 0b100):
            raise ValueError("flac: unsupported frame sample size")
        _read_utf8_coded(br)
        if bs_code == 0:
            raise ValueError("flac: reserved blocksize code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = br.read(8) + 1
        elif bs_code == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code in (0b1100,):
            br.read(8)
        elif sr_code in (0b1101, 0b1110):
            br.read(16)
        elif sr_code == 0b1111:
            raise ValueError("flac: invalid sample rate code")
        header_end = br.tell()
        if _crc8(payload[frame_start:header_end]) != br.read(8):
            raise ValueError("flac: frame header CRC mismatch")
        if blocksize > _MAX_SAMPLES or n_samples + blocksize > _MAX_SAMPLES:
            raise ValueError("flac: stream exceeds sample ceiling")
        parts.append(_decode_subframe(br, blocksize))
        n_samples += blocksize
        br.align()
        body_end = br.tell()
        if body_end + 2 > len(payload):
            raise ValueError("flac: truncated frame footer")
        want = struct.unpack(">H", payload[body_end : body_end + 2])[0]
        if _crc16(payload[frame_start:body_end]) != want:
            raise ValueError("flac: frame CRC mismatch")
        pos = body_end + 2

    samples = (
        np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)
    )
    if total and len(samples) != total:
        raise ValueError(
            f"flac: decoded {len(samples)} samples, STREAMINFO says {total}"
        )
    if md5 != b"\x00" * 16:
        # the little-endian int16 byte stream, built in one numpy cast
        # instead of a per-sample struct.pack (a sample somehow outside
        # int16 — only reachable from a corrupt-but-CRC-valid stream —
        # wraps and fails the MD5 check as corrupt, a ValueError like
        # every other corruption here)
        got = hashlib.md5(samples.astype("<i2").tobytes()).digest()
        if got != md5:
            raise ValueError("flac: stream MD5 mismatch (corrupt samples)")
    return rate, samples
