"""Seeded input generators for the benchmark workloads.

Every generator takes the run's seed and a directory under the run's
scratch area, writes its inputs there (never into the repository's own
fixture caches), and returns a description: where the inputs are, what the
output checks need to know about them, and their measured properties
(files, bytes, rows), which every run reports.

The same seed always yields byte-identical inputs: each generator draws
from a ``random.Random`` keyed on the workload name and the seed.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from solana_etl_spark.functions import png
from solana_etl_spark.sources import synth

# etl_load: mainnet-width blocks built from the corpus generator's
# transaction builders (vote / coin / token / memo mix)
ETL_BLOCKS = 4
ETL_TXS = (2_500, 4_500)
# stream_load: narrow blocks in the extract sink's make_block shape
STREAM_DROP_BLOCKS = 4
# corpus_clean: documents drawn from the tempered 20k-word scaling vocabulary
CORPUS_DOCS = 1_000
# media_decode: the synth table's small PNG/JPEG rows plus larger PNGs whose
# scanlines cycle through all five filter types
MEDIA_SMALL_PNGS = 800
MEDIA_JPEGS = 100
MEDIA_LARGE_PNGS = 48
MEDIA_LARGE_DIMS = ((160, 120), (128, 96), (200, 150))
# the table is stored as this many files, each holding the same mix of
# kinds, so the scan's splits (and with them the decode tasks) carry equal
# work on every seed; a single file is repartitioned by row hash, which puts
# a seed-dependent share of the few large PNGs into one straggler task
MEDIA_FILES = 8


def _gz_write(path: str, payload: bytes) -> int:
    """Write ``payload`` gzip-compressed through a hidden temp name and an
    atomic rename (a watching file source never sees a partial file);
    returns the compressed size."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with gzip.open(tmp, "wb", compresslevel=1) as f:
        f.write(payload)
    os.rename(tmp, path)
    return os.path.getsize(path)


def _wide_block(rng: random.Random, slot: int, n_txs: int) -> dict:
    txs = []
    for i in range(n_txs):
        r, acc = rng.random(), 0.0
        for builder, w in synth._TX_KINDS:
            acc += w
            if r < acc:
                txs.append(builder(rng, slot, i))
                break
        else:  # float round-off past the last cumulative weight
            txs.append(synth._TX_KINDS[-1][0](rng, slot, i))
    return {
        "jsonrpc": "2.0",
        "id": 1,
        "result": {
            "blockHeight": slot - 10_000,
            "blockTime": 1_700_000_000 + slot % 10**7,
            "blockhash": f"BH{slot}",
            "parentSlot": slot - 1,
            "previousBlockhash": f"BH{slot - 1}",
            "transactions": txs,
        },
    }


def _bucket_path(root: str, slot: int) -> str:
    d = os.path.join(root, str(slot // synth.SLOTS_PER_DIR * synth.SLOTS_PER_DIR))
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{slot}.json.gz")


def _expected_rows(txs: list[dict]) -> tuple[dict, list[tuple]]:
    """What the load must make of ``txs``, read straight off the JSON:
    signature -> (fee, successful), and one (signature, source,
    destination, mint, value, scale) row per system or spl-token transfer
    instruction of a successful transaction."""
    out_txs, transfers = {}, []
    for tx in txs:
        meta, msg = tx["meta"], tx["transaction"]["message"]
        sig = tx["transaction"]["signatures"][0]
        out_txs[sig] = (meta["fee"], meta["err"] is None)
        if meta["err"] is not None:
            continue
        keys = [k["pubkey"] for k in msg["accountKeys"]]
        inner = [i for group in meta["innerInstructions"] for i in group["instructions"]]
        for ins in msg["instructions"] + inner:
            parsed = ins.get("parsed")
            if not isinstance(parsed, dict) or parsed.get("type") != "transfer":
                continue
            info = parsed["info"]
            if ins.get("program") == "system":
                transfers.append((sig, info["source"], info["destination"], "sol", info["lamports"], 9))
            elif ins.get("program") == "spl-token":
                bal = {b["accountIndex"]: b for b in meta["preTokenBalances"]}
                tb = bal.get(keys.index(info["source"])) or bal[keys.index(info["destination"])]
                transfers.append(
                    (sig, info["source"], info["destination"], tb["mint"], int(info["amount"]),
                     tb["uiTokenAmount"]["decimals"])
                )
    return out_txs, transfers


def etl_blocks(seed: int, root: str, n_blocks: int = ETL_BLOCKS) -> dict:
    """Wide gzip-JSON blocks in slot-bucket directories, with one
    missing-result envelope and one malformed file among them."""
    rng = random.Random(f"etl_load-{seed}")
    base = 300_000_000 + (seed % 10_000) * 10_000
    # evenly spaced sizes in a seeded order: every seed loads the same
    # number of transactions, so seeds differ in content, not in work
    lo, hi = ETL_TXS
    sizes = [lo + (hi - lo) * b // max(n_blocks - 1, 1) for b in range(n_blocks)]
    rng.shuffle(sizes)
    blocks, txs, transfers, gz_bytes, json_bytes = {}, {}, [], 0, 0
    digest = hashlib.sha256()
    for b, n in enumerate(sizes):
        slot = base + b * 37  # spreads the blocks over several bucket dirs
        doc = _wide_block(rng, slot, n)
        raw = json.dumps(doc).encode()
        digest.update(raw)
        gz_bytes += _gz_write(_bucket_path(root, slot), raw)
        json_bytes += len(raw)
        block_txs, block_transfers = _expected_rows(doc["result"]["transactions"])
        txs.update(block_txs)
        transfers.extend(block_transfers)
        blocks[f"{slot}.json.gz"] = (n, sum(ok for _, ok in block_txs.values()))
    probes = {}
    missing = base + 37 * n_blocks + 1
    gz_bytes += _gz_write(_bucket_path(root, missing), b'{"jsonrpc": "2.0", "id": 1}')
    probes[f"{missing}.json.gz"] = "missing block result"
    bad = base + 18
    gz_bytes += _gz_write(_bucket_path(root, bad), b"this is not json {{{")
    probes[f"{bad}.json.gz"] = "malformed block json"
    return {
        "glob": os.path.join(root, "*", "*"),
        "blocks": blocks,
        "probes": probes,
        "txs": txs,
        "transfers": transfers,
        "digest": digest.hexdigest(),
        "props": {
            "files": n_blocks + len(probes),
            "bytes": gz_bytes,
            "json_bytes": json_bytes,
            "blocks": n_blocks,
            "txs": len(txs),
            "transfers": len(transfers),
        },
    }


def stream_drop(seed: int, watch_dir: str, drop: int, n_blocks: int = STREAM_DROP_BLOCKS) -> dict:
    """Drop ``drop`` of the stream: ``n_blocks`` narrow blocks written into
    the watched directory. Returns the files and bytes written."""
    base = 400_000_000 + (seed % 10_000) * 100_000 + drop * n_blocks
    files, nbytes = [], 0
    for slot in range(base, base + n_blocks):
        path = os.path.join(watch_dir, f"{slot}.json.gz")
        nbytes += _gz_write(path, json.dumps(synth.make_block(slot)).encode())
        files.append(path)
    return {"files": files, "bytes": nbytes}


def corpus_documents(seed: int, root: str, n_docs: int = CORPUS_DOCS) -> dict:
    """``documents(doc_id, text, lang, source, n_chars)`` parquet with the
    synth corpus's duplicate structure (an exact copy every 100 docs, a
    near-duplicate every 25) over the ``scaling`` vocabulary."""
    rows = []
    for doc_id in range(n_docs):
        rng = random.Random(f"corpus_clean-{seed}-{doc_id}")
        if doc_id % 100 == 99 and rows:
            text = rows[-1][1]
        elif doc_id % 25 == 24 and rows:
            text = synth._perturb_text(rng, rows[-1][1], "scaling")
        else:
            text = synth._doc_text(rng, "scaling")
        rows.append((doc_id, text, rng.choice(synth._DOC_LANGS), f"src{rng.randrange(20)}"))
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "documents.parquet")
    pq.write_table(table, path)
    return {"path": path, "props": {"files": 1, "bytes": os.path.getsize(path), "docs": n_docs}}


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a + b - c
    pa_, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa_ <= pb) & (pa_ <= pc), a, np.where(pb <= pc, b, c))


def encode_gray_filtered(width: int, height: int, px: bytes) -> bytes:
    """8-bit grayscale PNG whose scanline ``y`` uses filter type ``y % 5``
    (None, Sub, Up, Average, Paeth), compressed with stdlib zlib — every
    unfilter branch of a decoder runs on every image. The encoder's
    predictors read original pixels only, so each row is one vector op."""
    img = np.frombuffer(px, dtype=np.uint8).reshape(height, width).astype(np.int32)
    up = np.vstack([np.zeros((1, width), np.int32), img[:-1]])
    left = np.hstack([np.zeros((height, 1), np.int32), img[:, :-1]])
    upleft = np.hstack([np.zeros((height, 1), np.int32), up[:, :-1]])
    preds = (np.zeros_like(img), left, up, (left + up) // 2, _paeth(left, up, upleft))
    ft = np.arange(height) % 5
    pred = np.choose(ft[:, None], preds)
    raw = np.hstack([ft[:, None], (img - pred) & 0xFF]).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _large_image(rng: random.Random, w: int, h: int) -> bytes:
    a, b, p0 = rng.randrange(1, 5), rng.randrange(1, 5), rng.randrange(256)
    ys, xs = np.divmod(np.arange(w * h), w)
    noise = np.frombuffer(rng.randbytes(w * h), dtype=np.uint8) % 48
    return ((p0 + xs * a + ys * b + noise) % 256).astype(np.uint8).tobytes()


def _images_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "media_id": pa.array(cols[0], pa.int64()),
            "payload": pa.array(cols[1], pa.binary()),
            "pixels": pa.array(cols[2], pa.list_(pa.int32())),
            "width": pa.array(cols[3], pa.int32()),
            "height": pa.array(cols[4], pa.int32()),
            "kind": pa.array(cols[5], pa.string()),
        }
    )


def media_images(seed: int, root: str) -> dict:
    """``images(media_id, payload, pixels, width, height, kind)`` parquet
    files: the synth table's small PNG and baseline/progressive JPEG rows
    (ids offset by the seed) plus larger all-filter PNGs. ``pixels`` is
    the ground-truth luma each payload must decode to."""
    kinds = {"png": [], "jpeg": [], "png_large": []}
    prev = None
    base = (seed % 10_000) * 1_000_000  # keeps the synth's id-modulus structure
    for i in range(MEDIA_SMALL_PNGS):
        w, h, px = synth._synth_image(base + i, prev)
        prev = (w, h, px)
        kinds["png"].append((png.encode_gray(w, h, bytes(px)), px, w, h))
    jprev = None
    for j in range(MEDIA_JPEGS):
        pay, px, w, h = synth._synth_jpeg(base // 10 * 7 + j, jprev)
        jprev = (pay, px, w, h)
        kinds["jpeg"].append((pay, px, w, h))
    rng = random.Random(f"media_decode-{seed}")
    for i in range(MEDIA_LARGE_PNGS):
        w, h = MEDIA_LARGE_DIMS[i % len(MEDIA_LARGE_DIMS)]
        px = _large_image(rng, w, h)
        kinds["png_large"].append((encode_gray_filtered(w, h, px), list(px), w, h))
    # interleave the kinds evenly, then deal the rows round-robin to files
    placed = sorted(
        ((i + 0.5) / len(imgs), kind, img)
        for kind, imgs in kinds.items()
        for i, img in enumerate(imgs)
    )
    rows = [(media_id, *img, kind) for media_id, (_, kind, img) in enumerate(placed)]
    path = os.path.join(root, "images")
    os.makedirs(path)
    for f in range(MEDIA_FILES):
        pq.write_table(_images_table(rows[f::MEDIA_FILES]), os.path.join(path, f"part-{f}.parquet"))
    return {
        "path": path,
        "table": _images_table(rows),
        "props": {
            "files": MEDIA_FILES,
            "bytes": sum(os.path.getsize(os.path.join(path, n)) for n in os.listdir(path)),
            "images": len(rows),
            **{f"images_{k}": len(v) for k, v in kinds.items()},
            "large_png_dims": [list(d) for d in MEDIA_LARGE_DIMS],
            "payload_bytes": sum(len(r[1]) for r in rows),
        },
    }
