"""Multimodal column plumbing (charter §2.11): opaque ``binary`` payloads +
typed metadata, with decode / feature-extraction stages as per-payload
Python kernels behind ONE Arrow boundary, :func:`map_payloads` (the single
``mapInPandas`` every media kernel — image here, audio in
operators/audio.py — runs through, with one NULL/corrupt-payload rule).

Decode/resize are CAPABILITY-GATED (`decode_dims` / `resize_payload`): when
PIL is importable and the payload is ``image/*``, the real decoder runs;
otherwise the deterministic stub does (this container ships no codecs, and
the fixture corpus is ``text/plain``, so the stub remains the oracle-checked
canonical path). Everything Spark-side — schema, batch shape, partitioning,
UDF signature — is real and tested on both paths.

Codec scope (the charter decision): **PNG is the reference codec** of the
Pillow-less deployment — the vendored pure-Python decoder
(functions/png.py) gives ``image/png`` a REAL decode path everywhere,
exercised end-to-end by the dHash dedup operator below and its
pixel-ground-truth oracle (mm_phash_dedup). Every other image format
(JPEG, WebP, …) takes its real decode from Pillow when installed — the
capability gate routes ``image/*`` to PIL whenever present (tested) — and
the deterministic stub otherwise; vendoring further codecs was judged not
worth the maintenance surface since JPEG decode is not bit-reproducible
across decoder implementations (iDCT tolerance, ISO/IEC 10918-1 Annex K),
which would break the cross-engine value-hash oracle contract this repo
holds every operator to.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from solana_etl_spark.functions.parallelism import ensure_compute_parallelism
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("meta_source", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)


_PANDAS_DTYPES = {LongType: "int64", IntegerType: "int32"}


def map_payloads(
    media: DataFrame,
    kernel: Callable[..., Iterable[tuple]],
    schema: StructType | str,
    columns: Sequence[str] = ("payload",),
) -> DataFrame:
    """The package's one Arrow boundary for per-payload Python kernels
    (the reference's per-item ``Transform``, charter §2.9): every media
    kernel runs through this single ``mapInPandas``.

    ``media`` is pruned to ``media_id`` plus ``columns`` before the opaque
    kernel (Spark cannot prune through it, guide §4.1) and then spread
    with ``ensure_compute_parallelism`` (a single-row-group parquet scan
    lands every payload in ONE task — measured 52 s -> 3.9 s on the
    50k-image decode stage; at real scale it is a no-op). Per input row
    ``kernel(payload, *rest)`` gets the values of ``columns`` in order,
    the first (the payload) as ``bytes``, and returns an iterable of
    output tuples WITHOUT ``media_id``: one tuple for a one-to-one
    kernel, any number for a one-to-many one. Each tuple becomes one row
    of ``schema`` (first field ``media_id``), built with the schema's
    integer dtypes so an empty batch keeps its types.

    Two rules hold for every kernel:

    * NULL payload (first of ``columns``): the kernel is not called and
      the row emits nothing.
    * Kernel error: it propagates with its own type and message plus a
      ``media_id=<id>`` note, and fails the Spark job — a corrupt
      payload is never faked into a row or silently dropped.
    """
    schema = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    names = schema.names
    dtypes = [
        _PANDAS_DTYPES.get(type(f.dataType), "object") for f in schema.fields[1:]
    ]
    media = ensure_compute_parallelism(media.select("media_id", *columns))

    def payload_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rows = [], []
            for media_id, payload, *rest in zip(
                pdf["media_id"], *(pdf[c] for c in columns)
            ):
                if payload is None:
                    continue
                try:
                    for row in kernel(bytes(payload), *rest):
                        ids.append(media_id)
                        rows.append(row)
                except Exception as e:
                    e.add_note(f"media_id={media_id}")
                    raise
            cols = list(zip(*rows)) if rows else [()] * len(dtypes)
            out = {names[0]: pd.Series(ids, dtype=pdf["media_id"].dtype)}
            for name, col, dtype in zip(names[1:], cols, dtypes):
                out[name] = pd.Series(col, dtype=dtype)
            yield pd.DataFrame(out)

    return media.mapInPandas(payload_batches, schema=schema)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapt the documents table into a binary-payload media table (utf-8
    payload + metadata) — the plumbing a real image/audio corpus uses.

    Repartitions up to core count when the source arrives in fewer
    partitions (single parquet file → 1 partition → ONE Python worker for
    every downstream map_payloads kernel; decode is the expensive stage at
    scale and must parallelize)."""
    documents = ensure_compute_parallelism(documents)
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.col("source").alias("meta_source"),
    )


def binary_metadata(documents: DataFrame) -> DataFrame:
    """Pure-SQL metadata over the binary payload (no UDF): byte length and
    content hash — the cheap pre-filter stage before any decode."""
    media = documents_as_media(documents)
    return media.select(
        "media_id",
        "mime",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_md5"),
    )


def _decode_stub(payload: bytes) -> tuple[int, int]:
    """STUB decode kernel. Deterministic fake dimensions derived from the
    payload; a real deployment replaces this with an image/audio decoder.

    """
    return (len(payload) % 640 + 1, len(payload) % 480 + 1)


def _pil_image():
    """PIL's Image module when importable, else the vendored pure-Python
    decoders (functions/png.py + functions/jpeg.py, same ``open``/
    ``width``/``height``/``resize``/``tobytes`` subset) — PNG and
    baseline-JPEG payloads ALWAYS have a real decode path. A vendored
    module declares which mimes it really decodes (``CAN_DECODE``); the
    gate routes only those to it, so an image format with no real
    decoder in a Pillow-less deployment keeps the deterministic stub
    instead of crashing on a signature check. A corrupt payload of a
    decodable mime raises ValueError from the real decoder, never fake
    dimensions: through :func:`map_payloads` the job fails with the
    codec's error, naming the media_id."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        from solana_etl_spark.functions import jpeg, png

        return (png, jpeg)


_PIL_IMAGE = _pil_image()


def _decoder_for(pil, mime: str):
    """The real decoder for ``mime`` under ``pil`` (a module or a tuple
    of partial-codec modules), or None if this mime should take the
    stub. Real PIL (no CAN_DECODE attr) handles all image/*; a partial
    decoder (the vendored PNG/JPEG modules, or an injected fake
    declaring CAN_DECODE) handles only the mimes it lists."""
    if pil is None or mime is None or not mime.startswith("image/"):
        return None
    mods = pil if isinstance(pil, tuple) else (pil,)
    for mod in mods:
        can = getattr(mod, "CAN_DECODE", None)
        if can is None or mime in can:
            return mod
    return None


def decode_dims(payload: bytes, mime: str, pil_image=None) -> tuple[int, int]:
    """Capability-gated decode: a REAL image decode (PIL) for ``image/*``
    payloads when PIL is importable, the deterministic stub otherwise —
    the same contract either way (dims out, NotImplementedError on a
    missing payload). ``pil_image`` is injectable for testing the real
    path in codec-less containers; the stub path stays the value-hash
    oracle's canonical kernel (the fixture corpus is ``text/plain``, which
    always takes the stub)."""
    if payload is None:
        raise NotImplementedError("no payload")
    pil = _decoder_for(
        pil_image if pil_image is not None else _PIL_IMAGE, mime
    )
    if pil is not None:
        import io

        with pil.open(io.BytesIO(payload)) as im:
            return (int(im.width), int(im.height))
    return _decode_stub(payload)


def resize_payload(
    payload: bytes, mime: str, width: int, height: int, pil_image=None
) -> bytes:
    """Capability-gated resize: PIL ``Image.resize`` raw bytes for
    ``image/*`` when PIL is present, cyclic-resample stub otherwise."""
    if payload is None:
        raise NotImplementedError("no payload")
    return _decode_resize(payload, mime, width, height, pil_image)[1]


def _decode_resize(
    payload: bytes, mime: str, width: int, height: int, pil_image=None
) -> tuple[tuple[int, int], bytes]:
    """(source dims, resized bytes) from ONE open of the payload — the
    same gate and values as :func:`decode_dims` + :func:`resize_payload`,
    which would decode it twice."""
    pil = _decoder_for(
        pil_image if pil_image is not None else _PIL_IMAGE, mime
    )
    if pil is not None:
        import io

        with pil.open(io.BytesIO(payload)) as im:
            src = (int(im.width), int(im.height))
            return src, im.resize((width, height)).tobytes()
    return _decode_stub(payload), _resize_stub(payload, width, height)


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("src_width", LongType()),
        StructField("src_height", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("resized_md5", StringType()),
    ]
)

FRAME_SIZE = 64
FRAME_STRIDE = 4

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_len", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def _resize_stub(payload: bytes, width: int, height: int) -> bytes:
    """STUB resize kernel: decode is faked (`_decode_stub`), the "resized
    image" is the payload cyclically resampled to exactly width*height
    bytes — deterministic, size-correct, and cheap. A real deployment
    replaces this with PIL `Image.resize`.
    """
    n = width * height
    if len(payload) == 0:
        return b"\x00" * n
    reps = n // len(payload) + 1
    return (payload * reps)[:n]


def _md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


def _features(payload: bytes, mime: str) -> tuple:
    """One :func:`extract_features` row: (mime, n_bytes, content_md5,
    width, height)."""
    return (mime, len(payload), _md5(payload), *decode_dims(payload, mime))


def _resize_row(
    payload: bytes, mime: str, width: int, height: int, pil_image=None
) -> tuple:
    """One :func:`resize` row without ``media_id``: (mime, src_width,
    src_height, width, height, resized_md5), from one open of the
    payload. ``pil_image`` is :func:`decode_dims`' injectable seam."""
    src, resized = _decode_resize(payload, mime, width, height, pil_image)
    return (mime, *src, width, height, _md5(resized))


def _report_row(
    payload: bytes, mime: str, width: int, height: int, pil_image=None
) -> tuple:
    """One :func:`decode_report` row without ``media_id``: the
    :func:`extract_features` columns, then the resize columns, with the
    dims and the resized bytes from one open of the payload."""
    resized = _resize_row(payload, mime, width, height, pil_image)
    return (mime, len(payload), _md5(payload), *resized[1:])


def resize(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Arrow-batched resize stage through :func:`map_payloads` (charter:
    decode / feature-extract / **resize** / frame-sample). Decode+resample
    are stubbed (no codecs in-container) but the Spark plumbing is real:
    binary in, fixed-size binary out, declared schema, batch streaming.
    Emits the resized content hash rather than the raw bytes so results
    stay comparable across engines.
    """
    return map_payloads(
        media,
        lambda p, m: (_resize_row(p, m, width, height),),
        RESIZE_SCHEMA,
        ("payload", "mime"),
    )


def sample_frames(
    media: DataFrame, frame_size: int = FRAME_SIZE, stride: int = FRAME_STRIDE
) -> DataFrame:
    """Frame sampling as a one-to-many :func:`map_payloads` stage (charter:
    decode / feature-extract / resize / **frame-sample**): the payload is
    treated as a frame container of fixed ``frame_size``-byte frames and
    every ``stride``-th frame is emitted as its own row. This is the UDTF
    batch shape (rows out > rows in) a video frame sampler uses; only the
    container parsing is simplified — positional chunking — which keeps the
    kernel SQL-expressible and therefore oracle-checkable end to end.
    """

    def frames(payload):
        for i in range(0, (len(payload) + frame_size - 1) // frame_size, stride):
            frame = payload[i * frame_size : (i + 1) * frame_size]
            yield i, len(frame), _md5(frame)

    return map_payloads(media, frames, FRAME_SCHEMA)


DECODE_REPORT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("src_width", LongType()),
        StructField("src_height", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("resized_md5", StringType()),
    ]
)


def decode_report(media: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Decode + feature-extract + resize in ONE :func:`map_payloads` pass —
    the fused form of :func:`extract_features` and :func:`resize` (one
    batch stream instead of two over the same payloads): each row is the
    extract_features row followed by the resize columns. Both kernels are
    deterministic functions of the payload (md5 / len arithmetic / cyclic
    resample), so this whole Python-kernel surface carries a DuckDB
    value-hash oracle in the registry."""
    return map_payloads(
        media,
        lambda p, m: (_report_row(p, m, width, height),),
        DECODE_REPORT_SCHEMA,
        ("payload", "mime"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature stage through :func:`map_payloads` —
    batches stream through Arrow and the output schema is declared."""
    return map_payloads(
        media, lambda p, m: (_features(p, m),), FEATURE_SCHEMA, ("payload", "mime")
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (dHash) image dedup — the multimodal member of the
# dedup family, computed from REAL decoded pixels (functions/png.py).
# ---------------------------------------------------------------------------

# 6 grid rows × 11 grid cols → 6·10 = 60 horizontal-gradient comparisons:
# a 60-bit signature, BIGINT-safe in both engines and band-compatible with
# the existing 15-bit×4 banded Hamming-LSH (operators/dedup.py
# banded_hamming_pairs — the simhash constants apply unchanged).
DHASH_GRID_ROWS = 6
DHASH_GRID_COLS = 11


def _dhash_from_gray(width: int, height: int, gray: bytes) -> int:
    """60-bit dHash of a grayscale pixel buffer. Cell means are compared
    as EXACT cross-multiplied rationals (sum_r·n_l > sum_l·n_r), so the
    hash is integer-exact for arbitrary dimensions — no float resize, and
    the DuckDB oracle reproduces it bit-for-bit from the ground-truth
    pixel array. Bit r·10+c is 1 iff cell (r, c+1) is strictly brighter
    than cell (r, c) — the classic horizontal-gradient dHash."""
    gr, gc = DHASH_GRID_ROWS, DHASH_GRID_COLS
    px = (
        np.asarray(gray, dtype=np.int64)
        if isinstance(gray, np.ndarray)
        else np.frombuffer(gray, dtype=np.uint8).astype(np.int64)
    )
    ys, xs = np.divmod(np.arange(width * height, dtype=np.int64), width)
    cell = (ys * gr // height) * gc + (xs * gc // width)
    sums = np.bincount(cell, weights=px, minlength=gr * gc).astype(np.int64)
    ns = np.bincount(cell, minlength=gr * gc).astype(np.int64)
    s = sums.reshape(gr, gc)
    n = ns.reshape(gr, gc)
    bits = (s[:, 1:] * n[:, :-1]) > (s[:, :-1] * n[:, 1:])
    idx = np.arange(gr * (gc - 1), dtype=np.uint64)
    return int((bits.reshape(-1).astype(np.uint64) << idx).sum())


def _sniff_codec(payload: bytes):
    """Vendored codec by payload SIGNATURE (PNG magic / JPEG SOI) — a
    mixed image table needs no mime column on the hash path, and a
    payload that is neither raises ValueError (through
    :func:`map_payloads` the job fails naming the media_id)."""
    from solana_etl_spark.functions import jpeg, png

    # a 4-byte PNG prefix routes to the PNG codec even when the rest of
    # the magic is corrupt: its own signature check raises the detailed
    # "png: bad signature" the corrupt-payload tests pin
    if payload[:4] == b"\x89PNG":
        return png
    if payload[:2] == b"\xff\xd8":
        return jpeg
    raise ValueError("image: neither png nor jpeg payload signature")


def _dhash_payload(payload: bytes) -> int:
    """dHash of one PNG/JPEG payload, decoded by its sniffed codec."""
    import io

    with _sniff_codec(payload).open(io.BytesIO(payload)) as im:
        buf = im.tobytes()
        if im.channels > 1:
            a = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
            # channel-sum luma over COLOR channels only: ints, no float
            # weights. Alpha never contributes — for gray+alpha
            # (channels=2) luma is the gray plane alone, for RGBA the
            # first three planes.
            n_color = 1 if im.channels == 2 else 3
            buf = a.reshape(-1, im.channels)[:, :n_color].sum(axis=1)
        return _dhash_from_gray(im.width, im.height, buf)


def dhash_images(media: DataFrame) -> DataFrame:
    """(media_id, dhash): Arrow-batched kernel (:func:`map_payloads`)
    decoding each payload with the vendored codec for its sniffed
    signature (PNG or baseline JPEG — the REAL decode paths; a corrupt
    payload fails the job with the codec's error, naming the media_id)
    and reducing it to the 60-bit gradient signature. RGB payloads reduce
    to integer-exact luma via the plain channel sum (deterministic, no
    float weights). Input needs (media_id, payload) columns."""
    return map_payloads(
        media, lambda p: ((_dhash_payload(p),),), "media_id long, dhash long"
    )


def dhash_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs (img_a < img_b, hamming ≤ max_hamming):
    dHash signatures from real pixel decode, pairs via the shared banded
    Hamming-LSH (exact by pigeonhole for max_hamming < 4). The decode
    kernel is the only Python stage; pair mining stays codegen."""
    from solana_etl_spark.operators.dedup import banded_hamming_pairs

    sigs = dhash_images(media)
    return banded_hamming_pairs(
        sigs, "media_id", "dhash", bits=60, bands=4, max_hamming=max_hamming
    ).select(
        F.col("id_a").alias("img_a"),
        F.col("id_b").alias("img_b"),
        "hamming",
    )


SCENE_CUT_THRESHOLD = 256  # abs byte-sum jump between consecutive frames

SIGNATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("sig", LongType()),
    ]
)


def frame_signatures(
    media: DataFrame, frame_size: int = FRAME_SIZE
) -> DataFrame:
    """Per-frame content signatures (exact int64 byte sums) over EVERY
    ``frame_size``-byte frame of the payload — the decode-side half of
    scene-cut detection, as one one-to-many :func:`map_payloads` pass
    (real byte access, any binary payload). Deterministic integers, so
    the downstream cut logic is value-hash oracle-checkable.

    The per-frame sums run through numpy ``add.reduceat`` over an int64
    view of the payload (guide §4.2: hand whole batches to vectorized
    native code) — bit-identical to the former pure-Python
    ``sum(payload[i*fs:(i+1)*fs])`` loop (integer sums of uint8 values in
    an int64 accumulator cannot round)."""

    def sigs(payload):
        n_frames = (len(payload) + frame_size - 1) // frame_size
        if not n_frames:
            return ()
        px = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
        offsets = np.arange(n_frames, dtype=np.int64) * frame_size
        return enumerate(np.add.reduceat(px, offsets).tolist())

    return map_payloads(media, sigs, SIGNATURE_SCHEMA)


def scene_cut_stats(
    media: DataFrame,
    frame_size: int = FRAME_SIZE,
    threshold: int = SCENE_CUT_THRESHOLD,
) -> DataFrame:
    """Scene-cut detection per media item: a cut is a jump ≥ ``threshold``
    in consecutive frames' byte-sum signatures. The Python kernel only
    extracts signatures (the part that needs byte access); the temporal
    logic is RELATIONAL — one lag window per media + one rollup, so it
    shuffles 24-byte signature rows, never payloads, and scales to
    payload sizes the Python row could not hold ((media, frame) grain,
    like the frame sampler). Output: (media_id, n_frames, n_cuts,
    max_jump) — all exact integers."""
    from pyspark.sql.window import Window

    sigs = frame_signatures(media, frame_size)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    jump = F.abs(F.col("sig") - F.lag("sig").over(w))
    per_frame = sigs.select(
        "media_id", "frame_idx", jump.alias("jump")
    )
    return per_frame.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(
            F.when(F.col("jump") >= threshold, 1).otherwise(0)
        ).cast("long").alias("n_cuts"),
        F.coalesce(F.max("jump"), F.lit(0)).cast("long").alias("max_jump"),
    )
