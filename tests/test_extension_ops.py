"""Semantic unit tests for the LLM-pipeline extension operators on
constructed inputs (the oracle harness checks cross-engine equality; these
check the *semantics* — dups found, near-dups ranked, quality flagged)."""

from __future__ import annotations

import hashlib

import pytest
import pyspark.sql.functions as F

DOCS = [
    # (doc_id, text, lang, source, n_chars)
    (0, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),
    (1, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),  # exact dup
    (2, "the quick brown fox jumps over the lazy cat", "en", "s0", 44),  # near dup
    (3, "completely different content about spark engines", "en", "s0", 48),
    (4, "el zorro marron salta sobre el perro perezoso que duerme", "es", "s0", 56),
    (5, "THE  Quick   Brown Fox Jumps Over the Lazy Dog  ", "en", "s0", 49),  # ws/case dup of 0
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        DOCS, ["doc_id", "text", "lang", "source", "n_chars"]
    ).cache()


def test_exact_dedup_normalization(docs_df):
    from solana_etl_spark.operators.dedup import exact_dedup

    groups = {r.keeper_doc_id: r.n_copies for r in exact_dedup(docs_df).collect()}
    # 0, 1, and 5 (case/whitespace variants) collapse to keeper 0
    assert groups[0] == 3
    assert groups[2] == 1


def test_minhash_identical_and_near(docs_df):
    from solana_etl_spark.operators.dedup import minhash_signatures

    sigs = {r.doc_id: [r[f"h{i}"] for i in range(8)] for r in
            minhash_signatures(docs_df).collect()}
    assert sigs[0] == sigs[1]  # identical text → identical signature
    overlap_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    overlap_far = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert overlap_near > overlap_far  # near dup shares more minhashes


def test_minhash_lsh_finds_dup_pair(docs_df):
    from solana_etl_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs_df).collect()}
    assert (0, 1) in pairs


def test_lsh_duplicate_ids_equals_pairs_drop_set(docs_df):
    """The linear (min-per-bucket) drop set must equal the doc_b set of the
    pairs formulation — they are the same semantics at different scale cost."""
    from solana_etl_spark.operators.dedup import lsh_duplicate_ids, minhash_lsh_pairs

    from_pairs = {r.doc_b for r in minhash_lsh_pairs(docs_df).collect()}
    linear = {r.doc_id for r in lsh_duplicate_ids(docs_df).collect()}
    assert linear == from_pairs
    assert linear  # the constructed dups guarantee a non-empty drop set


def test_simhash_hamming_ranks_similarity(docs_df):
    from solana_etl_spark.operators.dedup import simhash

    s = {r.doc_id: r.simhash for r in simhash(docs_df).collect()}
    assert s[0] == s[1]
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(s[0], s[2]) < ham(s[0], s[3])


def test_compute_parallelism_guard_row_group_aware(spark, tmp_path):
    """A big single-row-group parquet scans as MANY byte-range splits but
    yields every row in ONE task (a split only produces rows when a
    row-group start falls inside it) — the r9 guard must see through the
    partition count via the parquet footers and repartition; a scan whose
    row groups can already fill the cores must pass through untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from solana_etl_spark.functions.parallelism import (
        ensure_compute_parallelism,
    )

    import random

    rng = random.Random(3)
    n = 4000
    # incompressible payloads so the file really spans many byte splits
    table = pa.table(
        {"media_id": list(range(n)), "v": [rng.randbytes(512) for _ in range(n)]}
    )
    one_group = str(tmp_path / "one_group.parquet")
    many_groups = str(tmp_path / "many_groups.parquet")
    pq.write_table(table, one_group, row_group_size=n)
    pq.write_table(table, many_groups, row_group_size=64)

    target = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        df1 = spark.read.parquet(one_group)
        # precondition: byte-splits alone would fool a count-only guard
        assert df1.rdd.getNumPartitions() >= target
        populated = (
            ensure_compute_parallelism(df1)
            .rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
            .filter(lambda c: c > 0)
            .count()
        )
        assert populated >= target  # rows actually spread across tasks

        df2 = spark.read.parquet(many_groups)
        if df2.rdd.getNumPartitions() >= target:
            # enough row groups to fill the cores: guard must not shuffle
            assert ensure_compute_parallelism(df2) is df2
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_compute_parallelism_guard_sizes_target_to_rows(spark, tmp_path):
    """r10 (guide §2.2): the guard's target is min(cores, ceil(rows/64)) —
    a tiny input must NOT fan into a cores-sized shuffle (a single-batch
    input is not shuffled at all), while inputs with >= 64*cores rows keep
    the exact cores-sized behavior of the r9 guard."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from solana_etl_spark.functions.parallelism import (
        ensure_compute_parallelism,
    )

    target = spark.sparkContext.defaultParallelism

    tiny = str(tmp_path / "tiny.parquet")
    pq.write_table(pa.table({"media_id": list(range(40))}), tiny)
    df_tiny = spark.read.parquet(tiny)
    out = ensure_compute_parallelism(df_tiny)
    # ceil(40/64) == 1: one populated task is the right shape; the guard
    # must not add a shuffle for it
    assert out is df_tiny

    mid = str(tmp_path / "mid.parquet")
    pq.write_table(pa.table({"media_id": list(range(3 * 64))}), mid)
    df_mid = spark.read.parquet(mid)
    out = ensure_compute_parallelism(df_mid)
    got = out.rdd.getNumPartitions()
    assert got == min(target, 3), got


def test_banded_hamming_chunked_expansion_exact(spark):
    """The r9 triangle-blocked hot-bucket expansion must emit EXACTLY the
    brute-force pair set — same pairs, same hamming, each exactly once
    (first-band emission survives chunking) — for buckets far larger than
    chunk_size, including chunk-boundary and cross-chunk pairs."""
    import random

    from solana_etl_spark.operators.dedup import banded_hamming_pairs

    rng = random.Random(11)
    base = rng.getrandbits(60)
    rows = []
    for i in range(60):
        sig = base
        for _ in range(rng.choice([0, 1, 1, 2])):
            sig ^= 1 << rng.randrange(60)
        rows.append((f"id{i:03d}", sig))
    df = spark.createDataFrame(rows, "id string, sig long")

    # chunk_size=7 forces the 60-member hot buckets through ~9 chunks and
    # 45 chunk-pair rows (same- and cross-chunk paths both exercised)
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in banded_hamming_pairs(df, "id", "sig", chunk_size=7).collect()
    )

    from itertools import combinations

    mask = (1 << 15) - 1
    brute = sorted(
        (a, b, bin(sa ^ sb).count("1"))
        for (a, sa), (b, sb) in combinations(rows, 2)
        if any(((sa ^ sb) >> (band * 15)) & mask == 0 for band in range(4))
        and bin(sa ^ sb).count("1") <= 3
    )
    assert got == brute
    assert len(got) == len(set(got))  # exactly-once emission
    # degenerate chunking (everything in one chunk) is the same answer
    one_chunk = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in banded_hamming_pairs(
            df, "id", "sig", chunk_size=1_000_000
        ).collect()
    )
    assert one_chunk == got


def test_ngram_jaccard_scores(docs_df):
    from solana_etl_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_quality_and_lang(docs_df):
    from solana_etl_spark.operators.text import lang_id, quality_score

    q = {r.doc_id: r for r in quality_score(docs_df).collect()}
    assert q[0].stopword_ratio > 0  # 'the' hits
    langs = {r.doc_id: r.predicted_lang for r in lang_id(docs_df).collect()}
    assert langs[0] == "en"
    assert langs[4] == "es"


def test_fingerprint_stability(docs_df):
    from solana_etl_spark.operators.text import fingerprint

    fp = {r.doc_id: r.fingerprint for r in fingerprint(docs_df).collect()}
    assert fp[0] == fp[1] and fp[0] == fp[5]  # normalization-stable
    assert fp[0] != fp[3]


def test_similarity_constructed(spark):
    from solana_etl_spark.operators.similarity import (
        cosine_topk,
        embedding_neardup_pairs,
    )

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.04, 0.0, 0.0], 0),  # nearly identical to 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),  # orthogonal
        (3, [0.7, 0.7, 0.0, 0.0], 1),  # diagonal, other label
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    top = cosine_topk(emb, k=2).collect()
    assert [r.vec_id for r in top] == [1, 3]  # nearest first, by cosine to vec 0
    pairs = {(r.vec_a, r.vec_b) for r in embedding_neardup_pairs(emb, 0.9).collect()}
    assert pairs == {(0, 1)}  # same-label near dup only


def test_multimodal_features(spark):
    from solana_etl_spark.operators.multimodal import (
        documents_as_media,
        extract_features,
    )

    docs = spark.createDataFrame(
        [(0, "hello", "en", "s0", 5), (1, "wörld", "de", "s0", 5)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    feats = {r.media_id: r for r in extract_features(documents_as_media(docs)).collect()}
    assert feats[0].content_md5 == hashlib.md5(b"hello").hexdigest()
    assert feats[1].n_bytes == len("wörld".encode())  # utf-8 bytes, not chars
    assert feats[0].width > 0 and feats[0].height > 0


def test_multimodal_resize_and_frames(spark):
    from solana_etl_spark.operators.multimodal import (
        documents_as_media,
        resize,
        sample_frames,
    )

    long_text = "abcdefgh" * 40  # 320 bytes → frames 0..4, sampled {0, 4}
    docs = spark.createDataFrame(
        [(0, "hello", "en", "s0", 5), (1, long_text, "en", "s0", 320)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    media = documents_as_media(docs)

    rs = {r.media_id: r for r in resize(media, width=8, height=4).collect()}
    # resized hash = payload cyclically resampled to exactly 8*4 bytes
    expect = hashlib.md5((b"hello" * 7)[:32]).hexdigest()
    assert rs[0].resized_md5 == expect
    assert (rs[0].width, rs[0].height) == (8, 4)
    assert rs[0].src_width > 0 and rs[0].src_height > 0

    frames = sorted(
        sample_frames(media, frame_size=64, stride=4).collect(),
        key=lambda r: (r.media_id, r.frame_idx),
    )
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.media_id, []).append(r)
    # 5-byte doc → one partial frame; 320-byte doc → frames {0, 4} of 0..4
    assert [r.frame_idx for r in by_doc[0]] == [0]
    assert by_doc[0][0].frame_len == 5
    assert [r.frame_idx for r in by_doc[1]] == [0, 4]
    assert by_doc[1][1].frame_len == 64  # 320 - 4*64 = 64 exactly
    payload = long_text.encode()
    assert by_doc[1][0].frame_md5 == hashlib.md5(payload[:64]).hexdigest()
    assert by_doc[1][1].frame_md5 == hashlib.md5(payload[256:320]).hexdigest()


def test_multimodal_codec_capability_gate():
    """decode_dims/resize_payload auto-select: real decoder for image/*
    when a PIL-compatible module is present (injected here — the container
    ships no codecs), deterministic stub otherwise."""
    import pytest

    from solana_etl_spark.operators.multimodal import (
        _decode_stub,
        _resize_stub,
        decode_dims,
        resize_payload,
    )

    class _FakeIm:
        width, height = 640, 480

        def resize(self, wh):
            self._wh = wh
            return self

        def tobytes(self):
            return b"\x01" * (self._wh[0] * self._wh[1])

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    class _FakePIL:
        @staticmethod
        def open(fh):
            return _FakeIm()

    png = b"\x89PNG fake payload"
    # image/* + PIL present -> real path
    assert decode_dims(png, "image/png", pil_image=_FakePIL) == (640, 480)
    assert resize_payload(png, "image/png", 4, 2, pil_image=_FakePIL) == b"\x01" * 8
    # non-image mime -> stub even when PIL is present
    assert decode_dims(b"hello", "text/plain", pil_image=_FakePIL) == _decode_stub(
        b"hello"
    )
    # no Pillow in this container: the gate falls back to the vendored
    # pure-Python PNG decoder, so image/png ALWAYS takes a real path — a
    # corrupt payload must raise, never return fake dimensions
    with pytest.raises(ValueError):
        decode_dims(png, "image/png")
    # ...while non-image mimes keep the deterministic stub
    assert decode_dims(png, "text/plain") == _decode_stub(png)
    assert resize_payload(png, "text/plain", 4, 2) == _resize_stub(png, 4, 2)
    # image/jpeg now has its OWN vendored real decoder (r8,
    # functions/jpeg.py) — a corrupt JPEG raises into error isolation,
    # exactly like a corrupt PNG
    jpeg = b"\xff\xd8\xff\xe0 fake jpeg bytes"
    with pytest.raises(ValueError):
        decode_dims(jpeg, "image/jpeg")
    # image mimes with NO vendored decoder keep the stub — a valid webp in
    # a Pillow-less deployment must not crash on a signature check
    webp = b"RIFF....WEBP fake bytes"
    assert decode_dims(webp, "image/webp") == _decode_stub(webp)
    assert resize_payload(webp, "image/webp", 4, 2) == _resize_stub(webp, 4, 2)
    # ...but WITH Pillow present (no CAN_DECODE restriction), image/jpeg
    # takes the REAL path — the documented deployment contract: PNG is the
    # reference codec of the vendored fallback, every other image format
    # gets its real decode from Pillow when installed
    assert decode_dims(jpeg, "image/jpeg", pil_image=_FakePIL) == (640, 480)
    assert (
        resize_payload(jpeg, "image/jpeg", 4, 2, pil_image=_FakePIL)
        == b"\x01" * 8
    )
    with pytest.raises(NotImplementedError):
        decode_dims(None, "image/png", pil_image=_FakePIL)


def test_resize_rows_open_each_payload_once():
    """The resize and decode_report row kernels take the source dims and
    the resized bytes from ONE open of the payload, with the same values
    as decode_dims + resize_payload."""
    import hashlib

    from solana_etl_spark.operators.multimodal import (
        _report_row,
        _resize_row,
        decode_dims,
        resize_payload,
    )

    class _Im:
        width, height = 7, 5

        def resize(self, wh):
            self._wh = wh
            return self

        def tobytes(self):
            return b"\x02" * (self._wh[0] * self._wh[1])

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    class _CountingPIL:
        opens = 0

        @classmethod
        def open(cls, fh):
            cls.opens += 1
            return _Im()

    payload = b"\x89PNG counted payload"
    dims = decode_dims(payload, "image/png", pil_image=_CountingPIL)
    resized_md5 = hashlib.md5(
        resize_payload(payload, "image/png", 4, 2, pil_image=_CountingPIL)
    ).hexdigest()
    _CountingPIL.opens = 0
    row = _resize_row(payload, "image/png", 4, 2, pil_image=_CountingPIL)
    assert _CountingPIL.opens == 1
    assert row == ("image/png", *dims, 4, 2, resized_md5)
    _CountingPIL.opens = 0
    row = _report_row(payload, "image/png", 4, 2, pil_image=_CountingPIL)
    assert _CountingPIL.opens == 1
    assert row == (
        "image/png",
        len(payload),
        hashlib.md5(payload).hexdigest(),
        *dims,
        4,
        2,
        resized_md5,
    )


def test_vendored_png_error_contract():
    """functions/png.py promises ValueError on ANYTHING undecodable:
    truncated headers and corrupt zlib streams must not leak struct.error
    / zlib.error, and out-of-range palette indexes must raise instead of
    silently truncating pixel rows (reviewed bugs)."""
    import binascii
    import io
    import struct
    import zlib

    import pytest

    from solana_etl_spark.functions import png

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", binascii.crc32(t + d) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # truncated mid-IHDR
    with pytest.raises(ValueError):
        png.open(io.BytesIO(sig + chunk(b"IHDR", b"\x00\x00\x00")[:10]))
    # corrupt zlib stream in IDAT
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError):
        png.open(
            io.BytesIO(
                sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"garbage")
                + chunk(b"IEND", b"")
            )
        )
    # palette index beyond PLTE (1 entry, index 5)
    ihdr3 = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    raw = b"\x00\x00\x05"  # filter 0, indexes [0, 5]
    bad_pal = (
        sig
        + chunk(b"IHDR", ihdr3)
        + chunk(b"PLTE", b"\x10\x20\x30")
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        png.open(io.BytesIO(bad_pal))
    # ...and a VALID palette image still decodes (to RGB)
    ok_raw = b"\x00\x01\x00"
    ok = (
        sig
        + chunk(b"IHDR", ihdr3)
        + chunk(b"PLTE", b"\x10\x20\x30\x40\x50\x60")
        + chunk(b"IDAT", zlib.compress(ok_raw))
        + chunk(b"IEND", b"")
    )
    with png.open(io.BytesIO(ok)) as im:
        assert (im.width, im.height) == (2, 1)
        assert im.tobytes() == b"\x40\x50\x60\x10\x20\x30"


def test_vendored_png_decompression_bomb_guard():
    """A crafted PNG (huge IHDR dims, or an IDAT that inflates past the
    scanline size IHDR implies) must raise ValueError BEFORE expanding to
    gigabytes — this decoder runs on untrusted scraped payloads in
    Pillow-less deployments, so unbounded zlib.decompress would OOM an
    executor instead of taking the documented error contract."""
    import binascii
    import io
    import struct
    import zlib

    import pytest

    from solana_etl_spark.functions import png

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", binascii.crc32(t + d) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # absurd dimensions: 2^16 x 2^16 = 4 G pixels, tiny high-ratio IDAT
    ihdr_huge = struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 0, 0, 0, 0)
    bomb = (
        sig
        + chunk(b"IHDR", ihdr_huge)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 65536, 9))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="implausible dimensions"):
        png.open(io.BytesIO(bomb))
    # zero-dimension IHDR
    ihdr_zero = struct.pack(">IIBBBBB", 0, 1, 8, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="implausible dimensions"):
        png.open(
            io.BytesIO(
                sig + chunk(b"IHDR", ihdr_zero)
                + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b"")
            )
        )
    # plausible dims (2x1 gray = 6 raw bytes) but the IDAT inflates to 1 MiB:
    # must raise after at most expected+1 bytes of output, not inflate it all
    ihdr_small = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
    overlong = (
        sig
        + chunk(b"IHDR", ihdr_small)
        + chunk(b"IDAT", zlib.compress(b"\x00" * (1 << 20), 9))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflates past"):
        png.open(io.BytesIO(overlong))
    # and a valid image still decodes after the guard
    ok = (
        sig
        + chunk(b"IHDR", ihdr_small)
        + chunk(b"IDAT", zlib.compress(b"\x00\x07\x09"))
        + chunk(b"IEND", b"")
    )
    with png.open(io.BytesIO(ok)) as im:
        assert im.tobytes() == b"\x07\x09"


def _png_bytes(width, height, rows, color_type=2, filters=None):
    """Stdlib PNG writer (struct + zlib + crc32) — real, spec-conformant
    bytes for exercising the vendored decoder's real path."""
    import binascii
    import struct
    import zlib

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", binascii.crc32(t + d) & 0xFFFFFFFF)
        )

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    channels = {0: 1, 2: 3, 6: 4}[color_type]
    filters = filters or [0] * height
    raw = b""
    prev = bytes(width * channels)
    for y in range(height):
        row = bytes(rows[y])
        f = filters[y]
        if f == 0:
            filt = row
        elif f == 1:  # Sub
            filt = bytes(
                (row[i] - (row[i - channels] if i >= channels else 0)) & 0xFF
                for i in range(len(row))
            )
        elif f == 2:  # Up
            filt = bytes((row[i] - prev[i]) & 0xFF for i in range(len(row)))
        elif f == 4:  # Paeth
            filt = bytes(
                (
                    row[i]
                    - paeth(
                        row[i - channels] if i >= channels else 0,
                        prev[i],
                        prev[i - channels] if i >= channels else 0,
                    )
                )
                & 0xFF
                for i in range(len(row))
            )
        else:
            raise AssertionError(f)
        raw += bytes([f]) + filt
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_real_png_decode_path():
    """A REAL 8x8 PNG through the DEFAULT gate (no injection): the
    vendored decoder parses chunks, inflates IDAT, inverts filters 0/1/2/4
    and reports true dimensions; resize is exact nearest-neighbor on the
    decoded pixels — the production path, previously unexercised."""
    from solana_etl_spark.operators.multimodal import decode_dims, resize_payload

    # 8x8 RGB: pixel (x, y) = (x*16, y*16, x ^ y), one row per filter type
    rows = [
        bytes(
            v
            for x in range(8)
            for v in (x * 16, y * 16, (x ^ y) & 0xFF)
        )
        for y in range(8)
    ]
    payload = _png_bytes(8, 8, rows, filters=[0, 1, 2, 4, 2, 1, 4, 0])
    assert decode_dims(payload, "image/png") == (8, 8)

    resized = resize_payload(payload, "image/png", 4, 4)
    # nearest-neighbor: out(x, y) = src(2x, 2y)
    expect = b"".join(
        bytes((2 * x * 16, 2 * y * 16, (2 * x) ^ (2 * y)))
        for y in range(4)
        for x in range(4)
    )
    assert resized == expect

    # grayscale round-trip through Up-filtered rows
    grows = [bytes((x + 7 * y) & 0xFF for x in range(5)) for y in range(3)]
    gpayload = _png_bytes(5, 3, grows, color_type=0, filters=[0, 2, 2])
    assert decode_dims(gpayload, "image/png") == (5, 3)
    import io

    from solana_etl_spark.functions import png as vendored

    with vendored.open(io.BytesIO(gpayload)) as im:
        assert im.tobytes() == b"".join(grows)


def test_multimodal_real_png_through_spark_kernel(spark):
    """The real decode fires inside the Arrow-batched mapInPandas kernel
    (workers resolve the same vendored gate), mixed with text payloads
    that keep the stub path."""
    from solana_etl_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    rows = [bytes(v for x in range(6) for v in (x, y, 0)) for y in range(4)]
    payload = _png_bytes(6, 4, rows)
    media = spark.createDataFrame(
        [
            (1, bytearray(payload), "image/png", "synth"),
            (2, bytearray(b"plain text payload"), "text/plain", "synth"),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    assert (out[1]["width"], out[1]["height"]) == (6, 4)
    from solana_etl_spark.operators.multimodal import _decode_stub

    assert (out[2]["width"], out[2]["height"]) == _decode_stub(
        b"plain text payload"
    )


def test_asof_join_semantics(spark):
    from solana_etl_spark.operators.asof import asof_join

    mk_ts = F.to_timestamp
    quotes = spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:00", 100.0),
            ("A", "2024-01-01 10:05:00", 101.0),
            ("B", "2024-01-01 10:02:00", 50.0),
        ],
        ["sym", "qts", "price"],
    ).withColumn("qts", mk_ts("qts"))
    trades = spark.createDataFrame(
        [
            (1, "A", "2024-01-01 10:03:00"),  # → 10:00 quote
            (2, "A", "2024-01-01 10:05:00"),  # equal ts is inclusive → 10:05
            (3, "B", "2024-01-01 10:01:00"),  # before any quote → unmatched
            (4, "C", "2024-01-01 10:00:00"),  # key never quoted → unmatched
        ],
        ["trade_id", "sym", "tts"],
    ).withColumn("tts", mk_ts("tts"))

    inner = {
        r.trade_id: r.price
        for r in asof_join(trades, quotes, ["sym"], "tts", "qts").collect()
    }
    assert inner == {1: 100.0, 2: 101.0}

    left = {
        r.trade_id: r.price
        for r in asof_join(trades, quotes, ["sym"], "tts", "qts", how="left").collect()
    }
    assert left == {1: 100.0, 2: 101.0, 3: None, 4: None}

    with pytest.raises(ValueError):
        # right payload column collides with a left column name
        asof_join(trades.withColumn("price", F.lit(0.0)), quotes, ["sym"], "tts", "qts")

    # FORWARD direction: nearest quote at-or-after each trade
    fwd = {
        r.trade_id: r.price
        for r in asof_join(
            trades, quotes, ["sym"], "tts", "qts", direction="forward"
        ).collect()
    }
    # trade 1 (10:03) → 10:05 quote; trade 2 (10:05) inclusive → 10:05;
    # trade 3 (10:01, B) → 10:02 quote; trade 4 (C) still unmatched
    assert fwd == {1: 101.0, 2: 101.0, 3: 50.0}
    fwd_left = {
        r.trade_id: r.price
        for r in asof_join(
            trades, quotes, ["sym"], "tts", "qts", how="left", direction="forward"
        ).collect()
    }
    assert fwd_left == {1: 101.0, 2: 101.0, 3: 50.0, 4: None}
    with pytest.raises(ValueError):
        asof_join(trades, quotes, ["sym"], "tts", "qts", direction="nearest")


def test_interval_point_join_semantics(spark):
    from solana_etl_spark.operators.rangejoin import interval_point_join

    iv = spark.createDataFrame(
        [
            (10, "2024-01-01 10:00:00", "2024-01-01 13:30:00"),  # spans 4 buckets
            (11, "2024-01-01 11:00:00", "2024-01-01 11:00:00"),  # zero-length
        ],
        ["iv_id", "start_ts", "end_ts"],
    ).select("iv_id", F.to_timestamp("start_ts").alias("start_ts"),
             F.to_timestamp("end_ts").alias("end_ts"))
    pts = spark.createDataFrame(
        [
            (1, "2024-01-01 11:00:00"),  # inside both (inclusive bounds)
            (2, "2024-01-01 13:30:00"),  # exactly at end → inside iv 10
            (3, "2024-01-01 09:59:59"),  # just before → no match
            (4, "2024-01-01 14:00:00"),  # after → no match
        ],
        ["pt_id", "ts"],
    ).withColumn("ts", F.to_timestamp("ts"))

    got = sorted(
        (r.pt_id, r.iv_id)
        for r in interval_point_join(pts, iv, "ts", "start_ts", "end_ts", 3600).collect()
    )
    # each qualifying pair exactly once, even though iv 10 spans 4 buckets
    assert got == [(1, 10), (1, 11), (2, 10)]

    with pytest.raises(ValueError):
        interval_point_join(pts.withColumnRenamed("pt_id", "iv_id"), iv,
                            "ts", "start_ts", "end_ts")


def test_interval_overlap_join_semantics(spark):
    """interval x interval overlap: inclusive touching endpoints match,
    disjoint intervals don't, and a pair sharing MANY buckets is emitted
    exactly once (report-at-first-overlap-bucket)."""
    from solana_etl_spark.operators.rangejoin import interval_overlap_join

    def iv(rows, idc, sc, ec):
        return spark.createDataFrame(rows, [idc, sc, ec]).select(
            idc, F.to_timestamp(sc).alias(sc), F.to_timestamp(ec).alias(ec)
        )

    a = iv(
        [
            (1, "2024-01-01 10:00:00", "2024-01-01 18:00:00"),  # 9 buckets
            (2, "2024-01-01 07:00:00", "2024-01-01 08:00:00"),
        ],
        "a_id", "a_start", "a_end",
    )
    b = iv(
        [
            (10, "2024-01-01 11:00:00", "2024-01-01 17:00:00"),  # inside 1
            (11, "2024-01-01 18:00:00", "2024-01-01 19:00:00"),  # touches 1's end
            (12, "2024-01-01 08:00:00", "2024-01-01 09:00:00"),  # touches 2's end
            (13, "2024-01-01 04:00:00", "2024-01-01 05:00:00"),  # disjoint
        ],
        "b_id", "b_start", "b_end",
    )
    rows = interval_overlap_join(
        a, b, "a_start", "a_end", "b_start", "b_end", bucket_seconds=3600
    ).collect()
    got = sorted((r.a_id, r.b_id) for r in rows)
    # (1,10) shares 7 buckets but appears ONCE; inclusive ends match
    assert got == [(1, 10), (1, 11), (2, 12)]
    with pytest.raises(ValueError):
        interval_overlap_join(a, a, "a_start", "a_end", "a_start", "a_end")


def test_corpus_shuffle_deterministic_training_order(spark):
    from solana_etl_spark.operators.sampling import corpus_shuffle

    df = spark.range(500).select(F.col("id").alias("k"))
    out = corpus_shuffle(df, "k", 8)
    rows = {r.k: (r.shard, r.pos) for r in out.collect()}
    assert len(rows) == 500  # every row placed exactly once
    assert {s for s, _ in rows.values()} == set(range(8))
    # positions within each shard are 1..n_shard with no gaps
    by_shard = {}
    for s, p in rows.values():
        by_shard.setdefault(s, []).append(p)
    assert all(sorted(ps) == list(range(1, len(ps) + 1)) for ps in by_shard.values())
    # pure function of the key: any partitioning produces the identical order
    again = {
        r.k: (r.shard, r.pos)
        for r in corpus_shuffle(df.repartition(13), "k", 8).collect()
    }
    assert again == rows


def test_sampling_and_kmv(spark):
    from solana_etl_spark.operators.sampling import (
        hash_sample,
        kmv_distinct,
        stratified_sample,
    )

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    s1 = sorted(r.k for r in hash_sample(df, "k", 1000).collect())  # 10%
    s2 = sorted(r.k for r in hash_sample(df, "k", 1000).collect())
    assert s1 == s2  # deterministic across runs
    assert 100 < len(s1) < 300  # ~200 expected
    wider = {r.k for r in hash_sample(df, "k", 2000).collect()}
    assert set(s1) <= wider  # nested: raising the rate only adds rows

    strat = stratified_sample(df, ["g"], "k", 5).groupBy("g").count().collect()
    assert {r["count"] for r in strat} == {5}
    small = stratified_sample(df.filter(F.col("k") < 2), ["g"], "k", 5)
    assert small.count() == 2  # min(n, |stratum|)

    # true cardinality below k → exact count, estimate == n
    exact = kmv_distinct(df.filter(F.col("k") < 100), "k", k=256).collect()[0]
    assert exact.n_hashes == 100 and exact.est_distinct == 100.0
    est = kmv_distinct(df, "k", k=256).collect()[0].est_distinct
    assert 1400 < est < 2600  # KMV error ~1/sqrt(k) ≈ 6%; generous bound


def test_connected_components_union_find_oracle(spark):
    """Cluster assignment equals a pure-Python union-find on the same edges:
    chains (0-1, 1-2, 2-3), a separate 2-cluster, a self-contained triangle,
    and high-id chains that exercise pointer jumping."""
    from solana_etl_spark.operators.dedup import connected_components

    edges = [
        (0, 1), (1, 2), (2, 3),          # chain → cluster 0
        (10, 11),                        # pair → cluster 10
        (20, 21), (21, 22), (20, 22),    # triangle → cluster 20
        (34, 33), (33, 32), (32, 31), (31, 30),  # reversed chain → 30
    ]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, max_iterations=8).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


def test_connected_components_empty_pairs(spark):
    from solana_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(pairs).count() == 0


def test_minhash_signatures_duckdb_parity(spark):
    """The demoted-from-driver-registry signatures query still holds exact
    cross-engine parity (a local gate entry, not a DRIVER_ROWS one)."""
    import duckdb

    from solana_etl_spark.queries import all_queries, all_oracle_sql

    sf = "/root/testdata/sf0.001"
    df = all_queries()["dedup_minhash_signatures"](spark, sf)
    spark_rows = sorted(tuple(r) for r in df.collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    duck_rows = sorted(
        tuple(r)
        for r in con.execute(all_oracle_sql()["dedup_minhash_signatures"]).fetchall()
    )
    assert spark_rows == duck_rows


def test_redact_pii_semantics(spark):
    from solana_etl_spark.operators.text import redact_pii

    rows = [
        (0, "mail a.b-c+x@sub.ex.org and b@ex.io twice"),
        (1, "go to https://ex.org/path?u=x@y.com then stop"),  # email inside URL
        (2, "host 192.168.0.1 and 10.0.0.255 seen"),
        (3, "plain text, version 1.2 no pii"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in redact_pii(df).collect()}

    assert got[0].n_emails == 2 and got[0].text_redacted == "mail <EMAIL> and <EMAIL> twice"
    # URL redacted first, so the embedded email survives only in the count
    assert got[1].n_urls == 1 and got[1].text_redacted == "go to <URL> then stop"
    assert got[2].n_ips == 2 and got[2].text_redacted == "host <IP> and <IP> seen"
    assert got[3].n_urls == got[3].n_emails == got[3].n_ips == 0
    assert got[3].text_redacted == rows[3][1]


def test_decontamination_semantics(spark):
    from solana_etl_spark.operators.decontam import contamination

    eval_docs = spark.createDataFrame(
        [(100, "the capital of france is paris obviously")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # contains the eval 5-gram "the capital of france is"
            (0, "we know THE Capital of France is a big city"),
            # shares words but no 5-gram run
            (1, "france paris capital the of is"),
            (2, "totally unrelated text about spark physical plans here"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in contamination(train, eval_docs, n=5).collect()}
    assert got[0].is_contaminated and got[0].n_overlap == 1
    assert not got[1].is_contaminated and got[1].n_overlap == 0
    assert not got[2].is_contaminated
    # every training row survives (audit-mode output)
    assert set(got) == {0, 1, 2}


def test_mixture_sample_and_quantile_bins(spark):
    from solana_etl_spark.operators.sampling import (
        mixture_sample,
        quantile_bins,
        sample_bucket,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(200)],
        ["doc_id", "source", "score"],
    )
    kept = mixture_sample(df, "doc_id", {"a": 10000}, default_bp=0)
    rows = kept.collect()
    assert all(r.source == "a" for r in rows)  # b-rate 0 → dropped
    assert len(rows) == 100  # a-rate 100% → all kept
    # membership is a pure function of the key: rerun selects the same rows
    again = {r.doc_id for r in mixture_sample(df, "doc_id", {"a": 10000}).collect()}
    assert {r.doc_id for r in rows} == again

    binned = quantile_bins(df, "score", "doc_id", 4).collect()
    by_bin = {}
    for r in binned:
        by_bin.setdefault(r.bin, []).append(r.score)
    assert sorted(by_bin) == [1, 2, 3, 4]
    assert all(len(v) == 50 for v in by_bin.values())
    assert max(by_bin[1]) < min(by_bin[4])  # bins are ordered by score


def test_kmeans_ivf_separable_clusters(spark):
    """Three well-separated blobs: k-means must recover them (every blob maps
    to exactly one centroid), and IVF top-k must stay within the query's
    blob."""
    from solana_etl_spark.operators.similarity import (
        ivf_assignments,
        ivf_topk,
    )

    def vec(center, jitter):
        return [float(center + jitter * 0.001)] * 4 + [0.0] * 60

    rows = [
        (i, vec(c, i), 0)
        for c, base in ((0.0, 0), (5.0, 20), (-5.0, 40))
        for i in range(base, base + 20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    assign = {r.vec_id: r.cid for r in ivf_assignments(emb, k=3, iters=3).collect()}
    blobs = [
        {assign[i] for i in range(0, 20)},
        {assign[i] for i in range(20, 40)},
        {assign[i] for i in range(40, 60)},
    ]
    assert all(len(b) == 1 for b in blobs)  # each blob → one centroid
    assert len(set.union(*blobs)) == 3  # and the centroids are distinct

    # query = vec_id 0 (blob 1): every IVF hit must come from blob 1
    hits = [r.vec_id for r in ivf_topk(emb, k=3, iters=3, nprobe=1, topk=5).collect()]
    assert hits[0] == 0 and all(v < 20 for v in hits)

    # sampled training (the 100 TB shape): train_bp=5000 must (a) still
    # assign EVERY vector, and (b) produce exactly the centroids of
    # training on the manually hash-filtered subset — the sampling is a
    # pure deterministic predicate, not a different algorithm
    from pyspark.sql import functions as _F
    from solana_etl_spark.operators.sampling import sample_bucket
    from solana_etl_spark.operators.similarity import kmeans_centroids

    sampled = {
        r.vec_id: r.cid
        for r in ivf_assignments(emb, k=3, iters=3, train_bp=5000).collect()
    }
    assert len(sampled) == 60
    manual = emb.filter(sample_bucket(_F.col("vec_id")) < 5000)
    want = {
        r.cid: r.cvec
        for r in kmeans_centroids(manual, k=3, iters=3).collect()
    }
    got = {
        r.cid: r.cvec
        for r in kmeans_centroids(emb, k=3, iters=3, train_bp=5000).collect()
    }
    assert got == want

    # batch path with the same single query must agree with the single path
    from solana_etl_spark.operators.similarity import ivf_batch_topk

    batch = ivf_batch_topk(
        emb, _F.col("vec_id") == 0, k=3, iters=3, nprobe=1, topk=5
    ).collect()
    assert [(r.vec_id, r.dist) for r in batch] == [
        (r.vec_id, r.dist)
        for r in ivf_topk(emb, k=3, iters=3, nprobe=1, topk=5).collect()
    ]
    assert all(r.q_id == 0 for r in batch)

    # multi-query batch: each query's hits stay inside its own blob
    multi = ivf_batch_topk(
        emb, _F.col("vec_id").isin(0, 20, 40), k=3, iters=3, nprobe=1, topk=5
    ).collect()
    assert len(multi) == 15
    for r in multi:
        assert r.q_id // 20 == r.vec_id // 20


def test_incremental_dedup_against_index(spark):
    from solana_etl_spark.operators.dedup import dedup_index, incremental_dedup

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog", "en", "s0", 44),
            (1, "an entirely different document about query engines", "en", "s0", 50),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    exact_idx, band_idx = dedup_index(corpus)
    new_batch = spark.createDataFrame(
        [
            # exact dup of corpus doc 0 (whitespace/case variant)
            (10, "THE  quick Brown fox jumps over the lazy dog", "en", "s0", 44),
            # near dup of corpus doc 0 (one word changed → shares LSH buckets)
            (11, "the quick brown fox jumps over the lazy cat", "en", "s0", 44),
            # genuinely new
            (12, "completely novel content never seen in the corpus at all", "en", "s0", 56),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    kept = sorted(
        r.doc_id for r in incremental_dedup(new_batch, exact_idx, band_idx).collect()
    )
    assert kept == [12]


def test_semantic_dedup_clusters_and_keepers(spark):
    from solana_etl_spark.operators.similarity import semantic_dedup

    # 3 near-identical vectors (one cluster), 1 far vector (singleton).
    # dim 16 so the sign bucket (8 bits) compares v[j] vs v[j+8].
    base = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0,
            -1.0, -2.0, -3.0, -4.0, -5.0, -6.0, -7.0, -8.0]
    near1 = [x * 1.001 for x in base]
    near2 = [x * 0.999 for x in base]
    far = [-x for x in base]
    df = spark.createDataFrame(
        [(1, base, 0), (2, near1, 0), (3, near2, 0), (4, far, 1)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r["vec_id"]: r for r in semantic_dedup(df, threshold=0.95).collect()}
    assert len(rows) == 4  # every input vector appears
    assert rows[1]["cluster_id"] == 1 and rows[1]["is_keeper"]
    assert rows[2]["cluster_id"] == 1 and not rows[2]["is_keeper"]
    assert rows[3]["cluster_id"] == 1 and not rows[3]["is_keeper"]
    assert rows[4]["cluster_id"] == 4 and rows[4]["is_keeper"]


def test_minhash_lsh_recall_vs_exact_shingle_jaccard(spark):
    """Measured recall of the banded MinHash-LSH candidate set against
    EXACT word-shingle Jaccard ground truth (the space minhash estimates —
    char-gram jaccard is a different operator): every true pair with
    jaccard >= 0.5 must be a candidate on the sf0.001 corpus. Theory for
    r=2, b=4 gives P(candidate) = 1-(1-s^2)^4 = 0.68 at s = 0.5; the
    corpus's near-dups sit far above threshold, so recall is exactly 1.0."""
    from pyspark.sql import functions as F

    from solana_etl_spark.operators.dedup import minhash_lsh_pairs, word_shingles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select("doc_id", word_shingles().alias("sh"))
    a, b = base.alias("a"), base.alias("b")
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("ni", F.size(F.array_intersect("a.sh", "b.sh")))
        .withColumn(
            "j", F.col("ni") / (F.size("a.sh") + F.size("b.sh") - F.col("ni"))
        )
    )
    truth = {
        (r[0], r[1])
        for r in pairs.filter(F.col("j") >= 0.5)
        .select("a.doc_id", "b.doc_id")
        .collect()
    }
    cand = {(r[0], r[1]) for r in minhash_lsh_pairs(docs).collect()}
    assert truth, "ground truth should be non-empty on the synthetic corpus"
    assert truth <= cand  # recall 1.0

    # the packaged operating-point report must agree with this brute force
    from solana_etl_spark.operators.dedup import lsh_eval

    rep = lsh_eval(docs, threshold=0.5).collect()[0]
    assert rep.n_truth == len(truth)
    assert rep.n_candidates == len(cand)
    assert rep.n_hits == len(truth & cand)
    assert rep.recall == 1.0
    assert rep.precision == round(len(truth & cand) / len(cand), 6)


def test_keepers_by_quality_prefers_longest(spark):
    """Within a near-dup cluster the keeper is the LONGEST version (most
    tokens, tie -> min doc_id), not the min-id; singletons self-keep."""
    from solana_etl_spark.operators.dedup import keepers_by_quality

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en", "s0", len(base)),                      # short variant
        (2, base + " lambda mu nu", "en", "s0", 99),           # longest — keeper
        (3, base + " lambda", "en", "s0", 99),                 # middle variant
        (9, "completely unrelated text about spark plans etc", "en", "s0", 40),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    got = {
        r.doc_id: (r.cluster_id, r.keeper_doc_id, r.is_keeper)
        for r in keepers_by_quality(df).collect()
    }
    assert len(got) == 4
    # docs 1-3 cluster together; keeper is 2 (most tokens), NOT min-id 1
    cluster = got[1][0]
    assert got[2] == (cluster, 2, True)
    assert got[1] == (cluster, 2, False)
    assert got[3] == (cluster, 2, False)
    assert got[9] == (9, 9, True)  # singleton keeps itself


def test_train_val_test_split_stable_under_growth(spark):
    """A document's split assignment is a pure function of its key: adding
    more rows to the corpus never migrates existing rows between splits."""
    from solana_etl_spark.operators.sampling import train_val_test_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    small = train_val_test_split(docs.limit(20), "doc_id")
    full = train_val_test_split(docs, "doc_id")
    small_map = {r["doc_id"]: r["split"] for r in small.collect()}
    full_map = {r["doc_id"]: r["split"] for r in full.collect()}
    assert small_map == {k: full_map[k] for k in small_map}
    assert set(full_map.values()) == {"train", "val", "test"}
    # roughly 80/10/10
    from collections import Counter
    c = Counter(full_map.values())
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_temperature_mixture_rebalances_strata(spark):
    from pyspark.sql import functions as F
    from solana_etl_spark.operators.sampling import (
        mixture_sample,
        temperature_rates_bp,
    )

    df = spark.range(0, 10_000).select(
        F.col("id").cast("string").alias("k"),
        F.when(F.col("id") < 9_000, "big")
        .when(F.col("id") < 9_900, "mid")
        .otherwise("small")
        .alias("src"),
    )
    rates = temperature_rates_bp(df, "src", alpha=0.3)
    # default (no budget): the exact temperature distribution anchored at
    # the smallest stratum — kept rows proportional to n^alpha
    assert rates["small"] == 10_000
    w = {g: n ** 0.3 for g, n in (("big", 9_000), ("mid", 900), ("small", 100))}
    for g in ("big", "mid"):
        assert abs(rates[g] - 10_000 * (w[g] / w["small"]) / (
            {"big": 9_000, "mid": 900}[g] / 100
        )) <= 1
    kept = {
        r[0]: r[1]
        for r in mixture_sample(df, "k", rates, stratum_col="src")
        .groupBy("src")
        .count()
        .collect()
    }
    assert kept["small"] == 100
    # realized counts track n^alpha proportions (hash-sample variance)
    assert abs(kept["big"] - 100 * w["big"] / w["small"]) < 80
    assert abs(kept["mid"] - 100 * w["mid"] / w["small"]) < 50
    # deterministic: same inputs -> same rates, same membership
    assert temperature_rates_bp(df, "src", alpha=0.3) == rates

    # explicit budget: expected total ~ budget
    half = temperature_rates_bp(df, "src", alpha=0.3, budget_rows=5_000)
    exp_total = sum(
        n * half[g] / 10_000
        for g, n in (("big", 9_000), ("mid", 900), ("small", 100))
    )
    assert abs(exp_total - 5_000) < 60  # water-filling hits the budget


def test_weighted_sample_matches_python_reference(spark):
    """ES weighted sampling: the exact top-n by ln(u)/w computed in Python
    must equal the Spark draw (pure function of row content)."""
    import hashlib
    import math

    from solana_etl_spark.operators.sampling import (
        WEIGHTED_DENOM,
        weighted_sample,
    )

    rows = [(i, (i % 7) + 1) for i in range(100)]
    df = spark.createDataFrame(rows, ["k", "w"])

    def es(k, w):
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        u = (h % WEIGHTED_DENOM + 1) / float(WEIGHTED_DENOM)
        return round(math.log(u) / w, 9)

    want = [
        k
        for k, w in sorted(rows, key=lambda r: (-es(r[0], r[1]), r[0]))[:10]
    ]
    got = [r["k"] for r in weighted_sample(df, "k", "w", 10).collect()]
    assert got == want


def test_weighted_sample_is_retry_stable(spark):
    from solana_etl_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, float(i + 1)) for i in range(50)], ["k", "w"]
    )
    a = [r["k"] for r in weighted_sample(df, "k", "w", 5).collect()]
    b = [
        r["k"]
        for r in weighted_sample(df.repartition(13), "k", "w", 5).collect()
    ]
    assert a == b  # partitioning never changes the draw


def test_weighted_sample_rejects_nonpositive_weights(spark):
    """Weight <= 0 / NULL has no ES key — the draw must fail loudly
    in-plan, never silently skew (ADVICE r2)."""
    import pytest

    from solana_etl_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, 1.0)], ["k", "w"]
    )
    with pytest.raises(Exception, match="undefined ES key"):
        weighted_sample(df, "k", "w", 2).collect()
    dfn = spark.createDataFrame([(1, 2.0), (2, None)], ["k", "w"])
    with pytest.raises(Exception, match="undefined ES key"):
        weighted_sample(dfn, "k", "w", 1).collect()


def test_cdc_chunks_shift_robust(spark):
    """An insertion near the start of a near-copy perturbs at most the
    chunk containing it — most chunk hashes still match (the property
    fixed-stride chunking lacks)."""
    from solana_etl_spark.operators.dedup import cdc_chunks

    base = " ".join(f"tok{i}" for i in range(120))
    shifted = "INSERTED " + base  # one token prepended
    df = spark.createDataFrame(
        [(0, base, "en", "s0", len(base)), (1, shifted, "en", "s0", len(shifted))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    chunks = cdc_chunks(df).collect()
    h0 = {r.chunk_hash for r in chunks if r.doc_id == 0}
    h1 = {r.chunk_hash for r in chunks if r.doc_id == 1}
    shared = h0 & h1
    # all but the first (perturbed) chunk should be recoverable
    assert len(shared) >= len(h0) - 2
    assert len(shared) >= 3  # the corpus actually chunked


def test_duplicated_spans_semantics(spark):
    """Lee-style exact-substring spans: a w-token window occurring twice
    (across docs OR within one) marks its positions; overlapping windows
    merge into ONE maximal span; unique text yields none."""
    from solana_etl_spark.operators.dedup import duplicated_spans

    shared = "alpha beta gamma delta " * 3  # 12 tokens, shared block
    rows = [
        # doc 0: unique prefix (4 toks) + shared block at positions 4..16
        (0, "zero one two three " + shared, "en", "s"),
        # doc 1: shared block at positions 0..12 + unique suffix
        (1, shared + "four five six seven", "en", "s"),
        # doc 2: fully unique, no duplicated window
        (2, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11", "en", "s"),
        # doc 3: internal repeat — "r0..r7 r0..r7" duplicates within itself
        (3, " ".join(f"r{i}" for i in range(8)) + " "
            + " ".join(f"r{i}" for i in range(8)), "en", "s"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in duplicated_spans(docs, w=8).collect()
    }
    # shared 12-token block: windows at 5 consecutive starts merge to one
    # 12-token span at the right offsets in each doc
    assert spans[0] == (4, 16, 5)
    assert spans[1] == (0, 12, 5)
    assert 2 not in spans
    # doc 3: the 8-token unit repeats, so EVERY window w/ the wrap-around
    # content duplicates too — "r0..r7" at 0 and 8 plus the 8 rotations in
    # between each occur... only exact equality counts: window at pos p
    # equals window at pos p+8 for p in 0..8-? stream is 16 tokens, windows
    # 0..8; window p and p+8 equal only for p=0 (p+8=8 is the last window).
    # Windows 1..7 are rotations (distinct content) — single span [0, 16).
    assert spans[3] == (0, 16, 2)
    # token conservation: span bounds inside the doc
    for did, (s, e, _) in spans.items():
        assert 0 <= s < e


def test_containment_catches_small_in_big(spark):
    """A document fully contained in one 10x its size has containment 1.0
    but Jaccard ~0.1 — containment finds it, Jaccard (at any useful
    threshold) cannot."""
    from solana_etl_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "the quick brown fox jumps over the lazy dog"
    big = small + " " + " ".join(f"unique{i:02d}filler{i:02d}" for i in range(40))
    docs = spark.createDataFrame(
        [(0, small, "en", "s"), (1, big, "en", "s"), (2, "unrelated words only", "en", "s")],
        ["doc_id", "text", "lang", "source"],
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    assert cont[(0, 1)] == 1.0
    assert (0, 2) not in cont
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert jac[(0, 1)] < 0.2  # the union dilution containment fixes


def test_exact_ngram_guard_raises_on_hot_gram_corpus(spark):
    """The exact inverted-index pair miners are Σ C(df,2)-bound by
    contract — above the candidate cap they must FAIL LOUDLY (naming
    lsh_jaccard_pairs as the scale path) instead of silently building a
    quadratic candidate stream; force=True runs the audit anyway."""
    import pytest

    from solana_etl_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    # 60 docs all sharing the same hot text: every gram has df=60, so the
    # candidate estimate is >= C(60,2) = 1770 per gram — far above cap=1000
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog", "en", "s")
         for i in range(60)],
        ["doc_id", "text", "lang", "source"],
    )
    with pytest.raises(ValueError, match="lsh_jaccard_pairs"):
        ngram_jaccard_pairs(docs, max_candidates=1000).collect()
    with pytest.raises(ValueError, match="force=True"):
        ngram_containment_pairs(docs, max_candidates=1000).collect()
    # force=True overrides and still produces exact values
    forced = ngram_jaccard_pairs(docs, max_candidates=1000, force=True)
    rows = forced.collect()
    assert len(rows) == 60 * 59 // 2 and all(r.jaccard == 1.0 for r in rows)
    # pass-through below the cap: identical corpus, generous cap, no raise
    ok = ngram_jaccard_pairs(docs, max_candidates=10_000_000).collect()
    assert len(ok) == len(rows)


def test_strip_duplicated_spans_removes_and_conserves(spark):
    """Strip drops exactly the span-covered tokens, keeps order, and
    leaves span-free documents untouched."""
    from solana_etl_spark.operators.dedup import strip_duplicated_spans

    shared = "alpha beta gamma delta " * 3  # 12 shared tokens
    rows = [
        (0, "zero one two three " + shared.strip(), "en", "s"),
        (1, (shared + "four five six seven").strip(), "en", "s"),
        (2, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9", "en", "s"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = {r.doc_id: r for r in strip_duplicated_spans(docs, w=8).collect()}
    assert out[0].text_stripped == "zero one two three"
    assert out[0].n_dup_tokens == 12 and out[0].n_tokens == 16
    assert out[1].text_stripped == "four five six seven"
    assert out[2].n_dup_tokens == 0
    assert out[2].text_stripped == rows[2][1]


def test_dhash_from_real_png_payloads(spark):
    """dHash pipeline over REAL PNG payloads: hashes must equal the
    ground-truth computation from the raw pixels, exact/near dups must
    pair up, distinct images must not, and a corrupt payload must raise
    (error contract, not a fake hash)."""
    import pytest

    from solana_etl_spark.functions.png import encode_gray
    from solana_etl_spark.operators.multimodal import (
        _dhash_from_gray,
        dhash_images,
        dhash_pairs,
    )

    w, h = 22, 12
    base = bytes((x * 5 + y * 9) % 256 for y in range(h) for x in range(w))
    near = bytearray(base)
    near[7] = max(0, near[7] - 2)  # tiny perturbation
    other = bytes((255 - x * 11 - y * 3) % 256 for y in range(h) for x in range(w))
    rows = [
        (0, bytearray(encode_gray(w, h, base))),
        (1, bytearray(encode_gray(w, h, base))),        # exact dup
        (2, bytearray(encode_gray(w, h, bytes(near)))),  # near dup
        (3, bytearray(encode_gray(w, h, other))),        # distinct
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r["dhash"] for r in dhash_images(media).collect()}
    assert got[0] == _dhash_from_gray(w, h, base)  # decode == ground truth
    assert got[0] == got[1]
    assert bin(got[0] ^ got[2]).count("1") <= 3
    assert 0 <= got[3] < 1 << 60
    pairs = {
        (r["img_a"], r["img_b"]): r["hamming"]
        for r in dhash_pairs(media).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 3
    assert not any(3 in p for p in pairs)
    # corrupt payload -> ValueError from the real decoder, not a hash
    bad = spark.createDataFrame(
        [(9, bytearray(b"\x89PNG not really"))], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="png"):
        dhash_images(bad).collect()


def test_dhash_rgb_and_odd_dims(spark):
    """Non-divisible dims (cross-multiplied exact means) and RGB payloads
    (integer channel-sum luma) both hash deterministically."""
    from solana_etl_spark.operators.multimodal import _dhash_from_gray

    # 13x7: no dimension divisible by the 11x6 grid
    w, h = 13, 7
    px = bytes((x * 3 + y * 5) % 256 for y in range(h) for x in range(w))
    h1 = _dhash_from_gray(w, h, px)
    h2 = _dhash_from_gray(w, h, px)
    assert h1 == h2 and 0 <= h1 < 1 << 60
    # monotone rows: every right cell is brighter -> all 60 bits set
    inc = bytes(min(255, x * 19) for y in range(6) for x in range(11))
    assert _dhash_from_gray(11, 6, inc) == (1 << 60) - 1


def test_dhash_gray_alpha_ignores_alpha_plane(spark):
    """Gray+alpha (color type 4) payloads must hash from the GRAY plane
    only: identical gray content under different alpha ramps hashes the
    same as the plain grayscale encoding of that content (regression —
    [:, :3] on an (N,2) array used to sum alpha into the luma)."""
    import binascii
    import struct
    import zlib

    from solana_etl_spark.functions.png import _SIGNATURE, encode_gray
    from solana_etl_spark.operators.multimodal import dhash_images

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", binascii.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def encode_ga(width, height, gray, alpha):
        ihdr = struct.pack(">IIBBBBB", width, height, 8, 4, 0, 0, 0)
        raw = b"".join(
            b"\x00"
            + bytes(
                b
                for x in range(width)
                for b in (
                    gray[y * width + x],
                    alpha[y * width + x],
                )
            )
            for y in range(height)
        )
        return (
            _SIGNATURE
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 9))
            + chunk(b"IEND", b"")
        )

    w, h = 22, 12
    gray = bytes((x * 5 + y * 9) % 256 for y in range(h) for x in range(w))
    ramp = bytes((x * 23) % 256 for y in range(h) for x in range(w))
    flat = bytes(255 for _ in range(w * h))
    media = spark.createDataFrame(
        [
            (0, bytearray(encode_gray(w, h, gray))),
            (1, bytearray(encode_ga(w, h, gray, ramp))),
            (2, bytearray(encode_ga(w, h, gray, flat))),
        ],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r["dhash"] for r in dhash_images(media).collect()}
    assert got[0] == got[1] == got[2]
