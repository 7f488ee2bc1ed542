"""Output checks for every workload.

Each workload has a loader that reads what the program wrote into plain
Python/Arrow values, a check that raises :class:`CheckFailed` when those
values are wrong, and a tamper function that corrupts a loaded copy in one
small way. :func:`self_test` runs the check on a tampered copy and fails
the run unless the check catches it, so a check that passes everything
cannot go unnoticed.
"""

from __future__ import annotations

import collections
import copy
import glob
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from solana_etl_spark.operators.multimodal import DHASH_GRID_COLS, DHASH_GRID_ROWS

ETL_TABLES = ("transactions", "transfers", "blocks", "errors")


class CheckFailed(Exception):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def self_test(check, loaded, tamper, *args) -> None:
    """``check`` must accept ``loaded`` (already checked by the caller) and
    reject ``tamper(copy of loaded)``."""
    bad = tamper(copy.deepcopy(loaded))
    try:
        check(bad, *args)
    except CheckFailed:
        return
    raise CheckFailed(f"self-test: {check.__name__} accepted a tampered output")


# --- etl_load ---------------------------------------------------------------


def load_etl(out_dir: str) -> dict[str, pd.DataFrame]:
    return {t: pq.read_table(os.path.join(out_dir, t)).to_pandas() for t in ETL_TABLES}


def etl_digest(tables: dict[str, pd.DataFrame]) -> str:
    """Order-independent content digest: per table, the sum of row hashes
    mod 2**64 (pandas' row hash is keyed and stable across processes)."""
    parts = []
    for t in ETL_TABLES:
        df = tables[t]
        h = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False)
        parts.append(f"{int(h.sum()) & (2**64 - 1):016x}")
    return "-".join(parts)


def check_etl(tables: dict[str, pd.DataFrame], inputs: dict) -> None:
    blocks, probes = inputs["blocks"], inputs["probes"]
    tx, tr, bl, er = (tables[t] for t in ETL_TABLES)
    _require(len(tx) == len(inputs["txs"]), f"transactions: {len(tx)} rows, wrote {len(inputs['txs'])} txs")
    got_tx = dict(zip(tx["signature"], zip(tx["fee"].astype(int), tx["isSuccessful"].astype(bool))))
    _require(len(got_tx) == len(tx), "transactions: duplicate signatures")
    _require(got_tx == inputs["txs"], "transactions: signatures, fees or success flags differ from the blocks'")
    got_tr = collections.Counter(
        zip(tr["transaction"], tr["source"], tr["destination"], tr["mint"],
            (int(v) for v in tr["value"]), tr["scale"].astype(int))
    )
    want_tr = collections.Counter(inputs["transfers"])
    _require(
        got_tr == want_tr,
        f"transfers: {sum((got_tr - want_tr).values())} rows not in the blocks, {sum((want_tr - got_tr).values())} missing",
    )
    _require(sorted(bl["path"]) == sorted(blocks), "blocks: rows are not exactly the good blocks")
    for row in bl.itertuples():
        n, ok = blocks[row.path]
        _require(
            row.numSuccessful + row.numErrors == row.numTransactions == n and row.numSuccessful == ok,
            f"blocks: counts of {row.path} are {row.numSuccessful}+{row.numErrors}/{row.numTransactions}, want {ok}+{n - ok}/{n}",
        )
    got = sorted(zip(er["name"], er["block"], er["message"]))
    want = sorted(("json_to_blocks", p, m) for p, m in probes.items())
    _require(got == want, f"errors: {got} != {want}")


def tamper_etl(tables):
    # the same wrong amount on every operation would leave a within-run
    # digest unchanged; the content check must still see it
    tr = tables["transfers"].copy()
    tr.iloc[0, tr.columns.get_loc("value")] += 1
    tables["transfers"] = tr
    return tables


def program_digest(package_dir: str) -> str:
    """Digest of the program's Python sources: cached results are only
    compared against runs of the same code."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(package_dir, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, package_dir).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def same_as_cached(cache_dir: str, key: str, value: str) -> str | None:
    """Store ``value`` under ``key`` the first time; afterwards return the
    stored value when it differs from ``value`` (else None)."""
    path = os.path.join(cache_dir, f"{key}.txt")
    if os.path.exists(path):
        with open(path) as f:
            stored = f.read().strip()
        return None if stored == value else stored
    os.makedirs(cache_dir, exist_ok=True)
    with open(f"{path}.tmp", "w") as f:
        f.write(value)
    os.replace(f"{path}.tmp", path)
    return None


# --- corpus_clean -------------------------------------------------------------


def corpus_oracle(path: str, cache_dir: str) -> list[int]:
    """Survivor ids of quality filter -> exact dedup -> near dedup chained
    (each stage over the previous stage's survivors), evaluated in DuckDB
    from the registry's oracle SQL over the documents parquet at ``path``.

    The evaluation takes seconds per thousand documents, so it runs once
    per input and oracle text: the result is cached under ``cache_dir``,
    keyed by a digest of both."""
    import duckdb

    from solana_etl_spark.queries import _clean_corpus_ctes, _quality_cond_sql

    s2 = (
        f"CREATE TABLE s2 AS WITH {_clean_corpus_ctes('s1')}"
        " SELECT * FROM s1 WHERE doc_id IN (SELECT doc_id FROM keepers)"
    )
    # the signature CTE is read by both sides of the band self-join
    s3 = (
        f"WITH {_clean_corpus_ctes('s2').replace('sigs AS (', 'sigs AS MATERIALIZED (', 1)}"
        " SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_b FROM pairs)"
    )
    h = hashlib.sha256((_quality_cond_sql() + s2 + s3).encode())
    with open(path, "rb") as f:
        h.update(f.read())
    cached = os.path.join(cache_dir, f"corpus_oracle-{h.hexdigest()[:24]}.json")
    if os.path.exists(cached):
        with open(cached) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE TABLE s1 AS SELECT * FROM read_parquet('{path}') WHERE {_quality_cond_sql()}")
        con.execute(s2)
        ids = sorted(r[0] for r in con.execute(s3).fetchall())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(f"{cached}.tmp", "w") as f:
        json.dump(ids, f)
    os.replace(f"{cached}.tmp", cached)
    return ids


def load_corpus(out_dir: str) -> dict:
    ids = pq.read_table(out_dir, columns=["doc_id"]).column("doc_id").to_pylist()
    manifest_rows = 0
    for path in glob.glob(os.path.join(out_dir, "_manifest", "part-*.json")):
        with open(path) as f:
            manifest_rows += sum(json.loads(line)["rows"] for line in f if line.strip())
    return {"ids": sorted(ids), "manifest_rows": manifest_rows}


def check_corpus(loaded: dict, oracle_ids: list[int]) -> None:
    _require(loaded["ids"] == oracle_ids, f"survivors: {len(loaded['ids'])} ids differ from the oracle's {len(oracle_ids)}")
    _require(loaded["manifest_rows"] == len(oracle_ids), f"manifest counts {loaded['manifest_rows']} rows, shards hold {len(oracle_ids)}")


def tamper_corpus(loaded):
    loaded["ids"] = sorted(loaded["ids"][1:] + [loaded["ids"][-1] + 1])
    return loaded


# --- stream_load --------------------------------------------------------------


def load_csv_rows(out_dir: str) -> dict[str, collections.Counter]:
    """Per output table, the multiset of data lines over every appended
    batch directory."""
    out = {}
    for t in ETL_TABLES:
        lines = collections.Counter()
        for path in glob.glob(os.path.join(out_dir, t, "batch-*", "part-*.csv")):
            with open(path) as f:
                lines.update(line for line in f if line.strip())
        out[t] = lines
    return out


def check_stream(stream_rows: dict, batch_rows: dict, n_blocks: int) -> None:
    _require(sum(batch_rows["blocks"].values()) == n_blocks, "batch reference: block count differs from the blocks dropped")
    for t in ETL_TABLES:
        _require(
            stream_rows[t] == batch_rows[t],
            f"{t}: streamed rows ({sum(stream_rows[t].values())}) differ from the batch run ({sum(batch_rows[t].values())})",
        )


def tamper_stream(rows):
    c = rows["transactions"]
    c[next(iter(c))] -= 1
    return rows


# --- media_decode -------------------------------------------------------------


def dhash_reference(width: int, height: int, px) -> int:
    """60-bit horizontal-gradient dHash from ground-truth pixels: bit
    ``r*(cols-1)+c`` is set iff grid cell (r, c+1) has the strictly higher
    mean, compared as cross-multiplied exact integers."""
    gr, gc = DHASH_GRID_ROWS, DHASH_GRID_COLS
    v = np.asarray(px, dtype=np.int64).reshape(height, width)
    rows = np.arange(height) * gr // height
    cols = np.arange(width) * gc // width
    sums = np.zeros((gr, gc), dtype=np.int64)
    np.add.at(sums, (rows[:, None], cols[None, :]), v)
    cnts = np.outer(np.bincount(rows, minlength=gr), np.bincount(cols, minlength=gc))
    h = 0
    for r in range(gr):
        for c in range(gc - 1):
            if int(sums[r, c + 1]) * int(cnts[r, c]) > int(sums[r, c]) * int(cnts[r, c + 1]):
                h |= 1 << (r * (gc - 1) + c)
    return h


def load_media(out_dir: str) -> dict[int, int]:
    t = pq.read_table(out_dir)
    return dict(zip(t.column("media_id").to_pylist(), t.column("dhash").to_pylist()))


def check_media(hashes: dict[int, int], expected: dict[int, int]) -> None:
    _require(len(hashes) == len(expected), f"{len(hashes)} hashes for {len(expected)} images")
    bad = [k for k, v in expected.items() if hashes.get(k) != v]
    _require(not bad, f"{len(bad)} dHashes differ from the ground-truth pixels' (first: media_id {bad[:1]})")


def tamper_media(hashes):
    k = next(iter(hashes))
    hashes[k] ^= 1
    return hashes
