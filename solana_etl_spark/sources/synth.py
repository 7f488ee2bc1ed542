"""Deterministic synthetic multi-block corpus for the end-to-end gate.

The reference ships two fixture blocks — enough for golden parity, not for
exercising the many-file read planner, the persist/fan-out, or a bench
number that scales with block count (VERDICT r1 item 8). This module
generates a few-hundred-block ``getBlock``-shaped gzip-JSON corpus, seeded
per slot so every regeneration is byte-stable, laid out in slot-bucket
subdirectories exactly like the extract sink (S5: ``slot//N*N``).

Transaction mix per block (all shapes the views must handle):

* vote transactions (outer ``vote`` program instruction)
* system coin transfers (parsed ``{source, destination, lamports}``) with
  consistent pre/post balance arrays
* spl-token transfers with pre/post token balances (J2/J4 enrichment),
  authority or multisigAuthority (J5), and sometimes partially-parsed inner
  instructions (J3/T1 flatten)
* only-fee transactions carrying a scalar-``parsed`` memo (the polymorphic
  ``parsed`` spot — SURVEY §7.3.1)
* failed transactions (``meta.err`` object)
* plus per-corpus probes: missing-result envelopes and one malformed-JSON
  file (block-level error isolation, reference FileOutput.py:80-91)

Nothing here copies reference code; shapes follow the public ``getBlock``
JSON-RPC response layout the reference consumes.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil
from collections.abc import Callable

CORPUS_VERSION = 1
N_BLOCKS = 240
BASE_SLOT = 200_000_000
SLOTS_PER_DIR = 100  # subdir bucketing, same shape as the extract sink

_MINTS = [
    ("MintUSDQ111111111111111111111111111111111111", 6),
    ("MintBONKt11111111111111111111111111111111111", 5),
    ("MintWSOL111111111111111111111111111111111111", 9),
]

_VOTE_PROGRAM_ID = "Vote111111111111111111111111111111111111111"
_SYSTEM_PROGRAM_ID = "11111111111111111111111111111111"
_TOKEN_PROGRAM_ID = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
_MEMO_PROGRAM_ID = "MemoSq4gqABAXKb96qnH8TysNcWxMyWCqXgDLGmfcHr"


def _pk(rng: random.Random, tag: str) -> str:
    return f"{tag}{rng.randrange(16**8):08x}padpadpadpadpadpadpadpadpad"


def _vote_tx(rng: random.Random, slot: int, i: int) -> dict:
    voter = _pk(rng, "Voter")
    fee = 5000
    pre = [rng.randrange(10**9, 10**10), 1169280, 1141440]
    post = [pre[0] - fee, pre[1], pre[2]]
    return {
        "meta": {
            "err": None,
            "fee": fee,
            "preBalances": pre,
            "postBalances": post,
            "preTokenBalances": [],
            "postTokenBalances": [],
            "innerInstructions": [],
        },
        "transaction": {
            "signatures": [f"VOTE{slot}_{i}"],
            "message": {
                "accountKeys": [
                    {"pubkey": voter, "signer": True, "writable": True},
                    {"pubkey": "SysvarS1otHashes111111111111111111111111111", "signer": False, "writable": False},
                    {"pubkey": _VOTE_PROGRAM_ID, "signer": False, "writable": False},
                ],
                "recentBlockhash": f"RBH{slot}",
                "instructions": [
                    {
                        "program": "vote",
                        "programId": _VOTE_PROGRAM_ID,
                        "parsed": {
                            "type": "vote",
                            "info": {"voteAccount": voter, "slots": [slot - 1]},
                        },
                    }
                ],
            },
        },
    }


def _coin_tx(rng: random.Random, slot: int, i: int) -> dict:
    src, dst = _pk(rng, "CSrc"), _pk(rng, "CDst")
    fee = 5000
    lamports = rng.randrange(1_000, 10**9)
    pre = [rng.randrange(10**10, 10**11), rng.randrange(10**7, 10**9), 1]
    post = [pre[0] - fee - lamports, pre[1] + lamports, 1]
    failed = rng.random() < 0.12
    if failed:
        post = [pre[0] - fee, pre[1], pre[2]]
    return {
        "meta": {
            "err": {"InstructionError": [0, {"Custom": 1}]} if failed else None,
            "fee": fee,
            "preBalances": pre,
            "postBalances": post,
            "preTokenBalances": [],
            "postTokenBalances": [],
            "innerInstructions": [],
        },
        "transaction": {
            "signatures": [f"COIN{slot}_{i}", f"COSIGN{slot}_{i}"]
            if rng.random() < 0.2
            else [f"COIN{slot}_{i}"],
            "message": {
                "accountKeys": [
                    {"pubkey": src, "signer": True, "writable": True},
                    {"pubkey": dst, "signer": False, "writable": True},
                    {"pubkey": _SYSTEM_PROGRAM_ID, "signer": False, "writable": False},
                ],
                "recentBlockhash": f"RBH{slot}",
                "instructions": [
                    {
                        "program": "system",
                        "programId": _SYSTEM_PROGRAM_ID,
                        "parsed": {
                            "type": "transfer",
                            "info": {
                                "source": src,
                                "destination": dst,
                                "lamports": lamports,
                            },
                        },
                    }
                ],
            },
        },
    }


def _token_tx(rng: random.Random, slot: int, i: int) -> dict:
    src, dst = _pk(rng, "TSrc"), _pk(rng, "TDst")
    auth = _pk(rng, "Auth")
    mint, decimals = _MINTS[rng.randrange(len(_MINTS))]
    fee = 5000
    amount = rng.randrange(1, 10**12)
    pre_src = rng.randrange(amount, amount + 10**12)
    pre_dst = rng.randrange(0, 10**12)
    multisig = rng.random() < 0.25
    info = {"source": src, "destination": dst, "amount": str(amount)}
    if multisig:
        info["multisigAuthority"] = auth
    else:
        info["authority"] = auth
    inner = []
    if rng.random() < 0.5:
        inner = [
            {
                "index": 0,
                "instructions": [
                    {
                        "programId": _pk(rng, "Prog"),
                        "accounts": [src, dst],
                        "data": f"base58data{rng.randrange(16**6):06x}",
                    }
                    for _ in range(rng.randrange(1, 4))
                ],
            }
        ]

    def tb(idx: int, amt: int) -> dict:
        return {
            "accountIndex": idx,
            "mint": mint,
            "owner": auth,
            "programId": _TOKEN_PROGRAM_ID,
            "uiTokenAmount": {
                "amount": str(amt),
                "decimals": decimals,
                "uiAmountString": str(amt / 10**decimals),
            },
        }

    pre = [rng.randrange(10**9, 10**10), 2039280, 2039280, 1, 1]
    post = [pre[0] - fee, pre[1], pre[2], 1, 1]
    return {
        "meta": {
            "err": None,
            "fee": fee,
            "preBalances": pre,
            "postBalances": post,
            "preTokenBalances": [tb(1, pre_src), tb(2, pre_dst)],
            "postTokenBalances": [tb(1, pre_src - amount), tb(2, pre_dst + amount)],
            "innerInstructions": inner,
        },
        "transaction": {
            "signatures": [f"TOKN{slot}_{i}"],
            "message": {
                "accountKeys": [
                    {"pubkey": auth, "signer": True, "writable": True},
                    {"pubkey": src, "signer": False, "writable": True},
                    {"pubkey": dst, "signer": False, "writable": True},
                    {"pubkey": _TOKEN_PROGRAM_ID, "signer": False, "writable": False},
                    {"pubkey": mint, "signer": False, "writable": False},
                ],
                "recentBlockhash": f"RBH{slot}",
                "instructions": [
                    {
                        "program": "spl-token",
                        "programId": _TOKEN_PROGRAM_ID,
                        "parsed": {"type": "transfer", "info": info},
                    }
                ],
            },
        },
    }


def _memo_tx(rng: random.Random, slot: int, i: int) -> dict:
    payer = _pk(rng, "Memo")
    fee = 5000
    pre = [rng.randrange(10**8, 10**9), 1]
    post = [pre[0] - fee, 1]
    return {
        "meta": {
            "err": None,
            "fee": fee,
            "preBalances": pre,
            "postBalances": post,
            "preTokenBalances": [],
            "postTokenBalances": [],
            "innerInstructions": [],
        },
        "transaction": {
            "signatures": [f"MEMO{slot}_{i}"],
            "message": {
                "accountKeys": [
                    {"pubkey": payer, "signer": True, "writable": True},
                    {"pubkey": _MEMO_PROGRAM_ID, "signer": False, "writable": False},
                ],
                "recentBlockhash": f"RBH{slot}",
                "instructions": [
                    {
                        "program": "spl-memo",
                        "programId": _MEMO_PROGRAM_ID,
                        # the polymorphic spot: parsed is a bare scalar here
                        "parsed": f"bWVtbyB7_{slot}_{i}",
                    }
                ],
            },
        },
    }


_TX_KINDS = (
    (_vote_tx, 0.40),
    (_coin_tx, 0.30),
    (_token_tx, 0.20),
    (_memo_tx, 0.10),
)


def make_block(slot: int) -> dict:
    rng = random.Random(slot)
    n_txs = 8 + rng.randrange(0, 15)
    txs = []
    for i in range(n_txs):
        r, acc = rng.random(), 0.0
        for builder, w in _TX_KINDS:
            acc += w
            if r < acc:
                txs.append(builder(rng, slot, i))
                break
    return {
        "jsonrpc": "2.0",
        "id": 1,
        "result": {
            "blockHeight": slot - 10_000,
            "blockTime": 1_700_000_000 + slot - BASE_SLOT,
            "blockhash": f"BH{slot}",
            "parentSlot": slot - 1,
            "previousBlockhash": f"BH{slot - 1}",
            "transactions": txs,
        },
    }


def _default_root() -> str:
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(repo, ".e2e_corpus")


def _generate_once(out: str, build: Callable[[str], None]) -> str:
    """Return the directory ``out``, generating it first if absent:
    ``build`` fills a private ``<out>.tmp.<pid>`` directory that is then
    renamed into place. Atomic, idempotent and safe under concurrent
    callers — a caller that loses the rename race drops its copy, and a
    ``build`` that raises leaves nothing behind."""
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):  # genuine failure, not a concurrent winner
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def ensure_e2e_corpus(root: str | None = None, n_blocks: int = N_BLOCKS) -> str:
    """Generate the corpus if absent; atomic (tmp dir + rename), idempotent,
    safe under concurrent callers. Returns the corpus directory."""

    def build(tmp: str) -> None:
        for slot in range(BASE_SLOT, BASE_SLOT + n_blocks):
            bucket = slot // SLOTS_PER_DIR * SLOTS_PER_DIR
            d = os.path.join(tmp, str(bucket))
            os.makedirs(d, exist_ok=True)
            with gzip.open(os.path.join(d, f"{slot}.json.gz"), "wb", compresslevel=1) as f:
                f.write(json.dumps(make_block(slot)).encode())
        # block-level error probes: two missing-result envelopes + one malformed
        probe_dir = os.path.join(tmp, str(BASE_SLOT // SLOTS_PER_DIR * SLOTS_PER_DIR))
        for probe_slot in (BASE_SLOT + n_blocks + 1, BASE_SLOT + n_blocks + 2):
            with gzip.open(os.path.join(probe_dir, f"{probe_slot}.json.gz"), "wb") as f:
                f.write(json.dumps({"jsonrpc": "2.0", "id": 1}).encode())
        with gzip.open(os.path.join(probe_dir, f"{BASE_SLOT + n_blocks + 3}.json.gz"), "wb") as f:
            f.write(b"this is not json {{{")

    root = root or _default_root()
    out = os.path.join(root, f"v{CORPUS_VERSION}_{n_blocks}")
    return _generate_once(out, build)


def ensure_solana_replicated_corpus(
    n_copies: int, root: str | None = None
) -> str:
    """Replicate the two reference mainnet fixture blocks ``n_copies``
    times each into the extract sink's ``{bucket}/{slot}.json.gz`` layout
    (reference: src/extract/ExtractBatch.py:16-23).

    The ``scaling_solana`` bench decade needs MANY gzip files of REAL
    mainnet width: gzip is non-splittable (read parallelism == file
    count) and wide-JSON parse dominates the whole-block path — the one
    SURVEY §4 hot spot the synthetic corpus (narrow blocks) cannot
    exercise. Raw ``.gz`` bytes are copied verbatim (byte-stable, no
    recompression); slots renumber consecutively so the layout matches a
    real extract run. Atomic tmp-dir + rename, idempotent, safe under
    concurrent callers."""
    import glob as _glob

    def build(tmp: str) -> None:
        fixtures = sorted(
            _glob.glob("/root/reference/test/resources/blocks/*/*.json.gz")
        )
        if not fixtures:
            raise FileNotFoundError("reference fixture blocks not found")
        slot = BASE_SLOT
        for _ in range(n_copies):
            for src in fixtures:
                bucket = slot // SLOTS_PER_DIR * SLOTS_PER_DIR
                d = os.path.join(tmp, str(bucket))
                os.makedirs(d, exist_ok=True)
                shutil.copyfile(src, os.path.join(d, f"{slot}.json.gz"))
                slot += 1

    root = root or _default_root()
    out = os.path.join(root, f"solana_x{n_copies}")
    return _generate_once(out, build)


# ---------------------------------------------------------------------------
# Synthetic documents/embeddings tables ABOVE the driver's largest fixture —
# the sf1 scaling decade for the heavy dedup/similarity/pipeline family.
# Same schema and value distributions as /root/testdata/sf*/: 31-word vocab
# documents (10-100 words, 5 langs, 20 sources) and unit-norm float32[64]
# embeddings with 10 labels. Duplicate structure is EXPLICIT and linear by
# construction (each original spawns at most one exact copy and one near-dup
# variant), so pair-emitting queries' output grows ~linearly with rows and a
# measured time exponent isolates PLAN growth from fixture-dependent output
# growth. Seeded per row — byte-stable across regenerations, like the block
# corpus above.
# ---------------------------------------------------------------------------

TABLES_VERSION = 2

# The driver fixture's 31-word vocabulary, extended to 1000 Zipf-weighted
# words. The 31-word fixture makes EVERY pair of random docs a near-dup at
# minhash/simhash/jaccard thresholds (pair sets grow quadratically with
# rows — measured: 100x pairs for 10x docs), which measures the fixture,
# not the plan. With 1000 words under a Zipf draw, random docs share only
# the head of the distribution and the near-dup pairs are (almost) only
# the constructed ones — linear in rows — so a time exponent over these
# tables isolates PLAN growth.
_DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
] + [f"w{i:03d}" for i in range(969)]
_DOC_WEIGHTS = [1.0 / (r + 1) for r in range(len(_DOC_VOCAB))]

# CONSTANT-DUPLICATE-RATE profile ("scaling"): the 1000-word 1/(r+1)
# Zipf vocab above still densifies duplicate CLUSTERS as the corpus
# grows — its head words appear in nearly every doc, so ACCIDENTAL
# shingle sharing between unrelated docs makes LSH candidate pairs grow
# ~quadratically with rows (measured 313 k → 31.5 M over the sf1→sf10
# decade), polluting every pair-emitter's time exponent with workload
# growth the plan didn't cause. The scaling profile tempers the head
# (weight 1/(r+50)) over a 20× larger vocabulary: the top word carries
# ~0.3 % of draws instead of ~13 %, so random docs share almost no
# 2-word shingles and the only near-dup pairs are the CONSTRUCTED ones
# (one exact copy per 100 docs, one perturbed variant per 25) — pair
# volume linear in rows by construction, at every size.
#
# Extension words are ALPHABETIC (base-26 pseudo-words), not the
# digit-bodied w###/v##### forms: with the tempered weights those
# dominated every doc and pushed digit_ratio past the 0.3 quality gate,
# so the cleaning/pretrain pipelines returned 0 survivors at every size
# — a vacuous decade timing filters that drop the whole corpus.
_SCALING_GEN = 2  # bump to invalidate cached scaling-profile tables


def _alpha_word(i: int) -> str:
    s = ""
    while True:
        i, r = divmod(i, 26)
        s += chr(97 + r)
        if not i:
            return "x" + s


_SCALING_VOCAB = _DOC_VOCAB[:-969] + [_alpha_word(i) for i in range(19969)]
_SCALING_WEIGHTS = [1.0 / (r + 50) for r in range(len(_SCALING_VOCAB))]

_PROFILES = {
    "fixture": (_DOC_VOCAB, _DOC_WEIGHTS),
    "scaling": (_SCALING_VOCAB, _SCALING_WEIGHTS),
}


def _cum_weights(weights: list[float]) -> list[float]:
    from itertools import accumulate

    return list(accumulate(weights))


_PROFILE_CUM = {
    name: (vocab, _cum_weights(w)) for name, (vocab, w) in _PROFILES.items()
}
_DOC_LANGS = ["en"] * 8 + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"]
_N_SOURCES = 20
_EMB_DIM = 64
_EMB_LABELS = 10


def _doc_text(rng: random.Random, profile: str = "fixture") -> str:
    vocab, cum = _PROFILE_CUM[profile]
    n = rng.randint(10, 100)
    return " ".join(rng.choices(vocab, cum_weights=cum, k=n))


def _perturb_text(
    rng: random.Random, text: str, profile: str = "fixture"
) -> str:
    """Near-dup variant: swap 1-2 word positions for fresh vocab draws."""
    vocab = _PROFILE_CUM[profile][0]
    words = text.split(" ")
    for _ in range(rng.randint(1, 2)):
        words[rng.randrange(len(words))] = rng.choice(vocab)
    return " ".join(words)


def _synth_documents(n_docs: int, profile: str = "fixture"):
    seed_tag = (
        f"doc-{TABLES_VERSION}-"
        if profile == "fixture"
        else f"doc-{TABLES_VERSION}{profile[0]}{_SCALING_GEN}-"
    )
    rows = []
    for doc_id in range(n_docs):
        rng = random.Random(f"{seed_tag}{doc_id}")
        if doc_id % 100 == 99 and rows:
            text = rows[-1][1]  # exact duplicate of the previous doc
        elif doc_id % 25 == 24 and rows:
            text = _perturb_text(rng, rows[-1][1], profile)  # near-dup
        else:
            text = _doc_text(rng, profile)
        rows.append(
            (
                doc_id,
                text,
                rng.choice(_DOC_LANGS),
                f"src{rng.randrange(_N_SOURCES)}",
                len(text),
            )
        )
    return rows


def _synth_embeddings(n_vecs: int):
    import math

    rows = []
    prev = None
    for vec_id in range(n_vecs):
        rng = random.Random(f"emb-{TABLES_VERSION}-{vec_id}")
        label = rng.randrange(_EMB_LABELS)
        if vec_id % 50 == 49 and prev is not None:
            vec = [v + rng.gauss(0.0, 0.01) for v in prev]  # near-dup
        else:
            vec = [rng.gauss(0.0, 1.0) for _ in range(_EMB_DIM)]
            # mild label-aligned bias so k-means/recall have structure
            vec[label % _EMB_DIM] += 1.0
        norm = math.sqrt(sum(v * v for v in vec)) or 1.0
        vec = [v / norm for v in vec]
        rows.append((vec_id, vec, label))
        prev = vec
    return rows


def _tables_root() -> str:
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo, ".synth_tables")


def ensure_sf_tables(
    n_docs: int,
    n_vecs: int,
    root: str | None = None,
    profile: str = "fixture",
) -> str:
    """Generate documents.parquet + embeddings.parquet with ``n_docs`` /
    ``n_vecs`` rows (driver-fixture schemas) if absent; atomic + idempotent
    like :func:`ensure_e2e_corpus`. Returns the directory.
    ``profile="scaling"`` draws document text from the tempered 20 k-word
    vocabulary (constant duplicate rate — see :data:`_SCALING_VOCAB`),
    the corpus the bench scaling decades measure; embeddings are
    profile-independent (near-dup pairs there are cosine-verified, so
    accidental bucket collisions never pollute pair counts)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if profile not in _PROFILES:
        raise ValueError(f"unknown profile {profile!r}")
    tag = "" if profile == "fixture" else f"{profile[0]}{_SCALING_GEN}"
    def build(tmp: str) -> None:
        docs = _synth_documents(n_docs, profile)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                    "text": pa.array([r[1] for r in docs], pa.string()),
                    "lang": pa.array([r[2] for r in docs], pa.string()),
                    "source": pa.array([r[3] for r in docs], pa.string()),
                    "n_chars": pa.array([r[4] for r in docs], pa.int64()),
                }
            ),
            os.path.join(tmp, "documents.parquet"),
        )
        embs = _synth_embeddings(n_vecs)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in embs], pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in embs], pa.list_(pa.float32())
                    ),
                    "label": pa.array([r[2] for r in embs], pa.int32()),
                }
            ),
            os.path.join(tmp, "embeddings.parquet"),
        )

    root = root or _tables_root()
    out = os.path.join(root, f"v{TABLES_VERSION}{tag}_d{n_docs}_e{n_vecs}")
    return _generate_once(out, build)


# ---------------------------------------------------------------------------
# Synthetic image fixtures (real PNG payloads + ground-truth pixel arrays)
# ---------------------------------------------------------------------------

# v4: progressive (SOF2) JPEG fixtures join the mix — j % 7 == 3 gray
# and every other color 4:4:4 — decoded against the same independent
# reference pixels as their baseline siblings; v5 alternates the color
# 4:2:0 fixtures too (the chroma layout progressive web encoders emit
# most — non-interleaved AC scans over the component grids)
IMAGES_VERSION = 5
N_IMAGES = 400
# dims are free-form for the dHash operator (cell comparisons are exact
# cross-multiplied rational means); varied here to exercise that path
_IMG_DIMS = [(22, 12), (33, 18), (44, 24), (30, 20)]
# JPEG section appended after the PNG rows (v3): 1 JPEG per 4 PNGs
_N_JPEGS_PER = 4
_JPG_DIMS = [(24, 16), (19, 13), (32, 24), (21, 18)]


def _synth_image(img_id: int, prev: tuple | None):
    """Deterministic grayscale image; every 20th is a small perturbation
    of the previous one (near-dup for the perceptual-hash family), every
    100th an exact copy."""
    rng = random.Random(f"img-{IMAGES_VERSION}-{img_id}")
    if img_id % 100 == 99 and prev is not None:
        w, h, px = prev
        return w, h, list(px)
    if img_id % 20 == 19 and prev is not None:
        w, h, px = prev
        px = list(px)
        for _ in range(rng.randint(1, 4)):
            i = rng.randrange(len(px))
            px[i] = max(0, min(255, px[i] + rng.randint(-3, 3)))
        return w, h, px
    w, h = rng.choice(_IMG_DIMS)
    # smooth per-image gradient (random direction/phase — unrelated images
    # get distinct hashes) + noise small enough that near-dup perturbations
    # rarely flip a cell comparison
    a, b, p0 = rng.randrange(3, 17), rng.randrange(3, 17), rng.randrange(256)
    px = [
        (p0 + x * a + y * b + rng.randrange(64)) % 256
        for y in range(h)
        for x in range(w)
    ]
    return w, h, px


_COS = None  # [(u, x)] cosine table for the reference IDCT


def _ref_cos():
    global _COS
    if _COS is None:
        import math

        _COS = [
            [
                (0.5 * math.sqrt(0.5) if u == 0 else 0.5)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    return _COS


def _ref_jpeg_plane(blocks, bw, bh, qtable):
    """Quantized blocks → sample plane (bh·8 × bw·8): dequant + separable
    float64 cosine IDCT + round-half-up + clamp + level shift — an
    INDEPENDENT pure-Python implementation of the pinned decode formulas
    in functions/jpeg.py (the generator self-checks the real decoder
    against these pixels at build time, so any divergence fails loudly
    instead of shipping wrong ground truth)."""
    import math

    cos = _ref_cos()
    plane = [[0] * (bw * 8) for _ in range(bh * 8)]
    for bi, blk in enumerate(blocks):
        by, bx = divmod(bi, bw)
        deq = [
            [blk[v * 8 + u] * qtable[v * 8 + u] for u in range(8)]
            for v in range(8)
        ]
        for y in range(8):
            for x in range(8):
                acc = 0.0
                for v in range(8):
                    cv = cos[v][y]
                    if cv == 0.0:
                        continue
                    row = deq[v]
                    acc += cv * sum(
                        cos[u][x] * row[u] for u in range(8) if row[u]
                    )
                # pinned op order: (+128.0) then (+0.5) then floor —
                # matches functions/jpeg.py's _idct_block_pixels exactly
                plane[by * 8 + y][bx * 8 + x] = max(
                    0, min(255, int(math.floor((acc + 128.0) + 0.5)))
                )
    return plane


def _synth_jpeg(j: int, prev: tuple | None):
    """Deterministic JPEG fixture j → (payload, luma_pixels, w, h).

    Coefficient-first construction: quantized DCT blocks are drawn
    directly (entropy coding is lossless on them), the payload comes from
    functions/jpeg's encoder, and ground-truth pixels from the reference
    IDCT above. Mostly grayscale; every 7th is color 4:4:4 and the next a
    color 4:2:0 (pixels column = exact channel-sum luma r+g+b, matching
    dhash_images' integer luma). Every 10th gray is a one-AC
    perturbation of the previous (near-dup pairs for the dHash family);
    every 25th an exact copy. v4: fixtures with j % 7 == 3 are
    PROGRESSIVE (SOF2) grayscale and every other color 4:4:4 is
    progressive — ~10% of web JPEGs are progressive, and the mm gate
    rows must certify that decode path against the same reference
    pixels as the baseline encodings."""
    import random

    from solana_etl_spark.functions import jpeg

    rng = random.Random(f"jpg-{IMAGES_VERSION}-{j}")

    def blocks(n, dc, ac_n=3, ac_mag=6):
        out = []
        for _ in range(n):
            blk = [0] * 64
            blk[0] = rng.randint(-dc, dc)
            for _ in range(ac_n):
                blk[rng.randint(1, 9)] = rng.randint(-ac_mag, ac_mag)
            out.append(blk)
        return out

    if j % 25 == 24 and prev is not None:
        return prev  # exact duplicate
    if j % 10 == 9 and prev is not None and len(prev) == 4:
        payload, px, w, h = prev
        # regenerate with the same seed recipe is impossible (prev may be
        # color); perturb only when prev was GRAY — detect via decode of
        # our own record: gray fixtures carry px values ≤ 255
        if max(px) <= 255:
            bw, bh = (w + 7) // 8, (h + 7) // 8
            # re-draw prev's blocks deterministically and nudge one AC
            prng = random.Random(f"jpg-{IMAGES_VERSION}-{j - 1}")
            blks = []
            for _ in range(bw * bh):
                blk = [0] * 64
                blk[0] = prng.randint(-50, 50)
                for _ in range(3):
                    blk[prng.randint(1, 9)] = prng.randint(-6, 6)
                blks.append(blk)
            blks[rng.randrange(len(blks))][1] += rng.choice((-1, 1))
            pay = jpeg.encode_gray_coeffs(blks, w, h)
            plane = _ref_jpeg_plane(blks, bw, bh, jpeg.STD_LUMA_QUANT)
            pix = [plane[y][x] for y in range(h) for x in range(w)]
            return pay, pix, w, h
    w, h = _JPG_DIMS[j % len(_JPG_DIMS)]
    bw, bh = (w + 7) // 8, (h + 7) // 8
    if j % 7 == 5:  # color 4:4:4 — alternating baseline / progressive
        yb = blocks(bw * bh, 50)
        cbb = blocks(bw * bh, 20, 1, 3)
        crb = blocks(bw * bh, 20, 1, 3)
        if (j // 7) % 2:
            pay = jpeg.encode_progressive_color_coeffs(yb, cbb, crb, w, h)
        else:
            pay = jpeg.encode_color_coeffs(yb, cbb, crb, w, h)
        pix = _ref_color_luma(yb, cbb, crb, w, h, subsample=False)
        return pay, pix, w, h
    if j % 7 == 6:  # color 4:2:0 — alternating baseline / progressive
        mcux, mcuy = (w + 15) // 16, (h + 15) // 16
        yb = blocks(mcux * 2 * mcuy * 2, 50)
        cbb = blocks(mcux * mcuy, 20, 1, 3)
        crb = blocks(mcux * mcuy, 20, 1, 3)
        if (j // 7) % 2:
            pay = jpeg.encode_progressive_color_coeffs(
                yb, cbb, crb, w, h, subsample=True
            )
        else:
            pay = jpeg.encode_color_coeffs(yb, cbb, crb, w, h, subsample=True)
        pix = _ref_color_luma(yb, cbb, crb, w, h, subsample=True)
        return pay, pix, w, h
    blks = blocks(bw * bh, 50)
    if j % 7 == 3:  # progressive grayscale (same reference pixels)
        pay = jpeg.encode_progressive_gray_coeffs(blks, w, h)
    else:
        pay = jpeg.encode_gray_coeffs(blks, w, h)
    plane = _ref_jpeg_plane(blks, bw, bh, jpeg.STD_LUMA_QUANT)
    pix = [plane[y][x] for y in range(h) for x in range(w)]
    return pay, pix, w, h


def _ref_color_luma(yb, cbb, crb, w, h, subsample: bool):
    """Channel-sum luma (r+g+b per pixel) of the reference color decode —
    the integer the dHash kernel reduces RGB to."""
    import math

    from solana_etl_spark.functions import jpeg

    if subsample:
        mcux, mcuy = (w + 15) // 16, (h + 15) // 16
        yp = _ref_jpeg_plane(yb, mcux * 2, mcuy * 2, jpeg.STD_LUMA_QUANT)
        cbp = _ref_jpeg_plane(cbb, mcux, mcuy, jpeg.STD_CHROMA_QUANT)
        crp = _ref_jpeg_plane(crb, mcux, mcuy, jpeg.STD_CHROMA_QUANT)
        sub = 2
    else:
        bw, bh = (w + 7) // 8, (h + 7) // 8
        yp = _ref_jpeg_plane(yb, bw, bh, jpeg.STD_LUMA_QUANT)
        cbp = _ref_jpeg_plane(cbb, bw, bh, jpeg.STD_CHROMA_QUANT)
        crp = _ref_jpeg_plane(crb, bw, bh, jpeg.STD_CHROMA_QUANT)
        sub = 1

    def rhu(x):
        return max(0, min(255, int(math.floor(x + 0.5))))

    out = []
    for y in range(h):
        for x in range(w):
            Y = yp[y][x]
            cb = cbp[y // sub][x // sub] - 128.0
            cr = crp[y // sub][x // sub] - 128.0
            out.append(
                rhu(Y + 1.402 * cr)
                + rhu(Y - 0.344136 * cb - 0.714136 * cr)
                + rhu(Y + 1.772 * cb)
            )
    return out


def ensure_images_table(
    n_images: int = N_IMAGES, root: str | None = None
) -> str:
    """Generate images.parquet — (img_id, payload REAL PNG or baseline
    JPEG bytes, pixels ground-truth luma array, width, height) — if
    absent; atomic + idempotent like :func:`ensure_sf_tables`. The
    payload/pixels pairing is what lets the dHash gate row cross-check
    the REAL decode paths: Spark hashes from the payload (vendored
    PNG/JPEG decode, signature-sniffed), the DuckDB oracle from the
    pixel array. v3 appended ``n_images // _N_JPEGS_PER`` JPEG rows —
    gray, color 4:4:4, and color 4:2:0 — whose expected pixels come from
    an independent reference implementation of the pinned decode
    formulas, self-checked against the real decoder at build time; v4
    makes a share of them progressive (SOF2), checked the same way."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from solana_etl_spark.functions import jpeg as jpeg_mod
    from solana_etl_spark.functions.png import encode_gray

    def build(tmp: str) -> None:
        rows = []
        prev = None
        for img_id in range(n_images):
            w, h, px = _synth_image(img_id, prev)
            prev = (w, h, px)
            rows.append((img_id, encode_gray(w, h, bytes(px)), px, w, h))
        jprev = None
        for j in range(n_images // _N_JPEGS_PER):
            pay, pix, w, h = _synth_jpeg(j, jprev)
            jprev = (pay, pix, w, h)
            # build-time self-check: the REAL decoder must reproduce the
            # reference pixels exactly, or the fixture fails loudly here
            with jpeg_mod.open(io.BytesIO(pay)) as im:
                got = im.tobytes()
                if im.channels == 1:
                    dec = list(got)
                else:
                    dec = [
                        got[3 * i] + got[3 * i + 1] + got[3 * i + 2]
                        for i in range(w * h)
                    ]
            if dec != pix or (im.width, im.height) != (w, h):
                raise AssertionError(
                    f"jpeg fixture {j}: decoder disagrees with reference"
                )
            rows.append((n_images + j, pay, pix, w, h))
        pq.write_table(
            pa.table(
                {
                    "img_id": pa.array([r[0] for r in rows], pa.int64()),
                    "payload": pa.array([r[1] for r in rows], pa.binary()),
                    "pixels": pa.array([r[2] for r in rows], pa.list_(pa.int32())),
                    "width": pa.array([r[3] for r in rows], pa.int32()),
                    "height": pa.array([r[4] for r in rows], pa.int32()),
                }
            ),
            os.path.join(tmp, "images.parquet"),
        )

    root = root or _tables_root()
    out = os.path.join(root, f"img_v{IMAGES_VERSION}_{n_images}")
    return _generate_once(out, build)


# ---------------------------------------------------------------------------
# Web-page corpus: multi-line documents + URLs for the C4-style cleaning
# and URL/domain operator families
# ---------------------------------------------------------------------------

WEB_VERSION = 4
N_PAGES = 600
_N_SITES = 24
WEB_BAD_WORDS = ("viagra", "casino", "jackpot")

# sites 18-23 live under ccTLD / private-section suffixes so the PSL
# registrable-domain path (operators/web.py with_registrable_domain) is
# exercised by the corpus itself: a.co.uk and b.co.uk must land in
# DIFFERENT cap groups (the last-two-labels heuristic collapsed them),
# shop.example.co.jp groups under example.co.jp, and
# demo.blogspot.co.uk is its own registrable domain (private-section
# rule). The rest keep plain .com hosts.
_CC_HOSTS = {
    18: "a.co.uk",
    19: "b.co.uk",
    20: "example.co.uk",
    21: "shop.example.co.jp",
    22: "news.com.br",
    23: "demo.blogspot.co.uk",
}


def _site_host(site: int) -> str:
    return _CC_HOSTS.get(site, f"site{site}.com")

# content sentences draw from the same Zipf vocabulary as the documents
# table (see _DOC_VOCAB note: a tiny vocab makes every page pair a
# near-dup and measures the fixture, not the plan)
_WEB_TERMINALS = [".", ".", ".", "!", "?"]


def _web_sentence(rng: "random.Random") -> str:
    n = rng.randint(5, 12)
    words = rng.choices(_DOC_VOCAB, weights=_DOC_WEIGHTS, k=n)
    return " ".join(words) + rng.choice(_WEB_TERMINALS)


def _site_boilerplate(site: int) -> list[str]:
    """Per-site 3-line cookie/consent block: passes every C4 LINE rule
    (>= 5 words, terminal punctuation) so only the three-sentence-span
    corpus dedup can remove its repeats — the planted syndication case."""
    rng = random.Random(f"site-{WEB_VERSION}-{site}")
    flavor = " ".join(rng.choices(_DOC_VOCAB, weights=_DOC_WEIGHTS, k=3))
    return [
        f"this website site{site} uses cookies to improve {flavor} experience.",
        f"by continuing to browse site{site} you accept our cookie policy.",
        f"manage your site{site} consent preferences in the settings page.",
    ]


def _synth_web_pages(n_pages: int):
    """(page_id, url, text) rows with every planted shape the C4 /
    URL-family operators exist to handle:

    * per-site 3-line boilerplate blocks (span-dedup fodder)
    * nav lines without terminal punctuation / < 5-word lines /
      "please enable javascript" lines (line-rule fodder)
    * lorem-ipsum, bad-word and ``{`` pages (page-rule fodder)
    * thin pages with < 3 surviving lines (page-retention fodder)
    * every 7th page syndicates 3 consecutive content lines from an
      earlier page (cross-page span dedup)
    * every 13th page re-serves the previous page's text at a URL
      variant of the SAME canonical form — scheme/host case, default
      ports, www, utm/fbclid params, fragments, trailing slashes
      (URL-canonicalization + keep-best dedup fodder)
    """
    pages = []
    content_memory: list[list[str]] = []  # content lines per prior page
    for page_id in range(n_pages):
        rng = random.Random(f"web-{WEB_VERSION}-{page_id}")
        site = page_id % _N_SITES
        content = [
            _web_sentence(rng) for _ in range(rng.randint(3, 8))
        ]
        if page_id % 7 == 3 and len(content_memory) > 2:
            donor = content_memory[rng.randrange(len(content_memory))]
            if len(donor) >= 3:
                start = rng.randrange(len(donor) - 2)
                content[:3] = donor[start : start + 3]  # syndicated block
        lines = ["home about contact"]  # nav: no terminal punct
        if page_id % 17 == 5:
            lines += content[:2]  # thin page: < 3 surviving lines
        else:
            lines += _site_boilerplate(site) + content
        if page_id % 11 == 7:
            lines.append("buy now!")  # < 5 words
        if page_id % 19 == 9:
            lines.append(
                "please enable javascript to view the dynamic content here."
            )
        if page_id % 23 == 11:
            lines.append(
                "lorem ipsum dolor sit amet consectetur adipiscing elit today."
            )
        if page_id % 29 == 13:
            lines.append(
                f"cheap {WEB_BAD_WORDS[page_id % len(WEB_BAD_WORDS)]} deals"
                " with free overnight shipping included."
            )
        if page_id % 31 == 17:
            lines.append("window.dataLayer = { push: true } and more text.")
        text = "\n".join(lines)
        url = f"https://{_site_host(site)}/articles/{page_id}?id={page_id}"
        # content_memory records the content lines ACTUALLY present in
        # this page's text, so syndication donors always plant real
        # duplicated spans (thin pages contribute only their 2 used
        # lines; re-served pages contribute the predecessor's content)
        actual_content = content[:2] if page_id % 17 == 5 else content
        if page_id % 13 == 6 and pages:
            # URL-variant re-serve: previous page's TEXT at a variant of
            # the SAME canonical URL — the scheme (and default port)
            # must mirror whichever branch the predecessor took, or the
            # canonical forms differ and the planted dedup pair is dead
            prev_id = page_id - 1
            prev_site = prev_id % _N_SITES
            text = pages[-1][2]
            scheme, port = (
                ("HTTP", 80) if prev_id % 9 == 4 else ("HTTPS", 443)
            )
            prev_host = _site_host(prev_site)
            # noise the case in halves so both case-folding paths appear
            noisy_host = (
                prev_host[: len(prev_host) // 2].upper()
                + prev_host[len(prev_host) // 2 :]
            )
            url = (
                f"{scheme}://WWW.{noisy_host}:{port}"
                f"/articles/{prev_id}/"
                f"?utm_source=feed&id={prev_id}&utm_campaign=x&fbclid=abc"
                f"#section-{page_id}"
            )
            actual_content = content_memory[-1]
        elif page_id % 9 == 4:
            url = (
                f"http://www.{_site_host(site)}:80/articles/{page_id}"
                f"?id={page_id}&ref=homepage"
            )
        content_memory.append(actual_content)
        pages.append((page_id, url, text))
    return pages


# dir-tag generation counter: bump when the TABLE SCHEMA changes without
# touching the text/url seed streams (g2: added the html column) — pinned
# text-content tests stay valid, only the cached directory regenerates
_WEB_GEN = 2
_HTML_BLOCK_TAGS = ["p", "div", "li", "h2", "section"]


def _page_html(page_id: int, text: str) -> str:
    """Deterministic HTML wrapping of a page's text: each line in a
    random block element (attributes sometimes), with script/style/title
    noise that a correct extractor must DROP — by construction
    ``html_to_text(html) == text`` exactly, which is the gate row's
    planted invariant (content lines carry no markup or entities)."""
    rng = random.Random(f"html-{WEB_VERSION}-{page_id}")
    parts = [
        "<!DOCTYPE html>",
        "<html><head>",
        f"<title>synthetic page {page_id}</title>",
        "<style>body { color: #222; font: 14px/1.4 sans-serif; }</style>",
        f"<script type=\"text/javascript\">var page = {page_id};</script>",
        "</head>",
        "<body>",
    ]
    for i, line in enumerate(text.split("\n")):
        tag = rng.choice(_HTML_BLOCK_TAGS)
        attr = rng.choice(["", f' class="c{i}"', f' id="l{i}"'])
        parts.append(f"<{tag}{attr}>{line}</{tag}>")
        if rng.random() < 0.15:
            parts.append(
                f"<script>analytics.track({{'p': {i}, 'doc': {page_id}}});"
                "</script>"
            )
    parts.append("<br/>")
    parts.append("</body></html>")
    return "".join(parts)


def ensure_web_table(n_pages: int = N_PAGES, root: str | None = None) -> str:
    """Generate pages.parquet (page_id, url, text, html) if absent;
    atomic + idempotent like :func:`ensure_sf_tables`. Returns the
    directory. ``html`` is the markup-wrapped form of ``text`` (see
    :func:`_page_html`) — the raw-crawl input of the HTML-extraction
    stage; text/url seed streams are unchanged from g1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        rows = _synth_web_pages(n_pages)
        pq.write_table(
            pa.table(
                {
                    "page_id": pa.array([r[0] for r in rows], pa.int64()),
                    "url": pa.array([r[1] for r in rows], pa.string()),
                    "text": pa.array([r[2] for r in rows], pa.string()),
                    "html": pa.array(
                        [_page_html(r[0], r[2]) for r in rows], pa.string()
                    ),
                }
            ),
            os.path.join(tmp, "pages.parquet"),
        )

    root = root or _tables_root()
    out = os.path.join(root, f"web_v{WEB_VERSION}g{_WEB_GEN}_{n_pages}")
    return _generate_once(out, build)


# ---------------------------------------------------------------------------
# Synthetic audio fixtures (real WAV payloads + ground-truth PCM arrays)
# ---------------------------------------------------------------------------

# v2: every clip_id % 3 == 2 carries a FLAC payload (functions/flac.py)
# instead of WAV — the mixed-codec corpus certifies the compressed
# real-decode path through the same fingerprint/dedup gate rows. The
# re-serve clips (% 9 == 8, which are % 3 == 2) become byte-different
# FLAC re-encodings (verbatim subframes + a PADDING block) of identical
# PCM — colliding only if the decoder reconstructs SAMPLES, not bytes.
# v3: FLAC clips with clip_id % 9 == 2 use LPC subframes (the type
# real-world encoders emit almost exclusively) instead of
# fixed-prediction, so the oracle gate certifies that decode path too.
AUDIO_VERSION = 3
N_CLIPS = 400
_AUDIO_RATE = 8000


def _synth_clip(clip_id: int, prev: list | None) -> tuple[list, tuple]:
    """Deterministic mono PCM clip (int16 range) + its extra-chunk spec.
    Planted shapes, mirroring ``_synth_image`` for the fingerprint family:

    * every 9th clip: EXACT PCM copy of the previous one re-encoded with
      an extra ``LIST`` metadata chunk — byte-different payloads,
      identical audio (the decoder's chunk walk is what makes them
      collide; a 44-byte-header assumption would mis-read the copy)
    * every 6th: the previous clip amplitude-doubled — sample-different,
      fingerprint-IDENTICAL by the energy-gradient hash's scale
      invariance (cross-multiplied mean comparisons)
    * every 20th: a few ±small sample perturbations (near-dup, small
      hamming)
    * every 50th: shorter than AFP_FRAMES samples (empty energy frames —
      the COALESCE path of the oracle)

    The base signal is an amplitude-envelope sinusoid: energy varies
    smoothly across frames so gradient bits are well-separated and a
    ±3-sample perturbation rarely flips a frame comparison.
    """
    import math

    rng = random.Random(f"wav-{AUDIO_VERSION}-{clip_id}")
    if clip_id % 9 == 8 and prev is not None:
        return list(prev), ((b"LIST", b"INFOISFT" + b"synthetic re-serve\x00"),)
    if clip_id % 6 == 5 and prev is not None:
        return [max(-32768, min(32767, s * 2)) for s in prev], ()
    if clip_id % 20 == 19 and prev is not None:
        out = list(prev)
        for _ in range(rng.randint(1, 4)):
            i = rng.randrange(len(out))
            out[i] = max(-32768, min(32767, out[i] + rng.randint(-3, 3)))
        return out, ()
    if clip_id % 50 == 49:
        n = rng.randint(7, 40)  # < AFP_FRAMES: empty frames exist
    else:
        n = rng.randint(600, 4000)
    freq = rng.uniform(80.0, 900.0)
    # piecewise-linear amplitude envelope over ~8 knots, peak <= 12000 so
    # the amplitude-doubled copies stay inside int16
    knots = [rng.uniform(500.0, 12000.0) for _ in range(8)]
    out = []
    for i in range(n):
        t = i * 7 / max(n - 1, 1)
        k = min(int(t), 6)
        amp = knots[k] + (knots[k + 1] - knots[k]) * (t - k)
        out.append(
            int(round(amp * math.sin(2.0 * math.pi * freq * i / _AUDIO_RATE)))
        )
    return out, ()


def ensure_audio_table(n_clips: int = N_CLIPS, root: str | None = None) -> str:
    """Generate audio.parquet — (clip_id, payload REAL WAV-or-FLAC bytes,
    samples ground-truth PCM array, sample_rate, n_samples) — if absent;
    atomic + idempotent like :func:`ensure_images_table`. The
    payload/samples pairing is what lets the fingerprint gate rows
    cross-check the REAL decode path: Spark decodes the RIFF or fLaC
    payload (functions/wav.py, functions/flac.py, routed by signature),
    the DuckDB oracle recomputes from the sample array. Every 3rd clip
    is FLAC (see AUDIO_VERSION note above)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from solana_etl_spark.functions.flac import (
        encode_pcm16 as encode_flac,
    )
    from solana_etl_spark.functions.wav import encode_pcm16

    def build(tmp: str) -> None:
        rows = []
        prev: list | None = None
        for clip_id in range(n_clips):
            samples, extra = _synth_clip(clip_id, prev)
            prev = samples
            if clip_id % 3 == 2:
                # the re-serve case (`extra` non-empty) maps to the FLAC
                # analogue of the LIST chunk: a byte-different re-encoding
                # (verbatim subframes + PADDING) of the identical PCM;
                # % 9 == 2 clips take LPC subframes (v3)
                payload = encode_flac(
                    _AUDIO_RATE,
                    samples,
                    force_verbatim=bool(extra),
                    padding=32 if extra else 0,
                    lpc=([3, -3, 1], 1)
                    if clip_id % 9 == 2 and not extra
                    else None,
                )
            else:
                payload = encode_pcm16(_AUDIO_RATE, samples, extra)
            rows.append((clip_id, payload, samples))
        pq.write_table(
            pa.table(
                {
                    "clip_id": pa.array([r[0] for r in rows], pa.int64()),
                    "payload": pa.array([r[1] for r in rows], pa.binary()),
                    "samples": pa.array([r[2] for r in rows], pa.list_(pa.int32())),
                    "sample_rate": pa.array(
                        [_AUDIO_RATE] * len(rows), pa.int32()
                    ),
                    "n_samples": pa.array([len(r[2]) for r in rows], pa.int32()),
                }
            ),
            os.path.join(tmp, "audio.parquet"),
        )

    root = root or _tables_root()
    out = os.path.join(root, f"wav_v{AUDIO_VERSION}_{n_clips}")
    return _generate_once(out, build)
