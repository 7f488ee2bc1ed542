"""Error side-channel fidelity (§7.4): semantic transfer failures become
error rows instead of exceptions, and keep_subdirs partitions outputs."""

from __future__ import annotations

import glob
import gzip
import json

import pyspark.sql.functions as F

from solana_etl_spark.sources import read_blocks
from solana_etl_spark.plans.tasks import run_all_tasks

# token transfer whose source AND destination have no token-balance entry →
# the reference raises a bare Exception (Transfer.py:55); we emit an error row
BROKEN_TOKEN_TRANSFER_BLOCK = {
    "jsonrpc": "2.0",
    "id": 1,
    "result": {
        "blockHeight": 7,
        "blockTime": 1700000001,
        "blockhash": "HASH7",
        "parentSlot": 6,
        "previousBlockhash": "HASH6",
        "transactions": [
            {
                "meta": {
                    "err": None,
                    "fee": 5000,
                    "preBalances": [10, 10, 10, 10],
                    "postBalances": [10, 10, 10, 10],
                    "preTokenBalances": [],  # ← no balance info at all
                    "postTokenBalances": [],
                    "innerInstructions": [],
                },
                "transaction": {
                    "signatures": ["SIGBROKEN"],
                    "message": {
                        "accountKeys": [
                            {"pubkey": "SRC", "signer": True, "writable": True},
                            {"pubkey": "DST", "signer": False, "writable": True},
                            {"pubkey": "AUTH", "signer": True, "writable": False},
                            {
                                "pubkey": "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA",
                                "signer": False,
                                "writable": False,
                            },
                        ],
                        "recentBlockhash": "RBH",
                        "instructions": [
                            {
                                "program": "spl-token",
                                "programId": "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA",
                                "parsed": {
                                    "type": "transfer",
                                    "info": {
                                        "source": "SRC",
                                        "destination": "DST",
                                        "amount": "12345",
                                        "authority": "AUTH",
                                    },
                                },
                            }
                        ],
                    },
                },
            }
        ],
    },
}


def test_semantic_transfer_failure_becomes_error_row(spark, tmp_path):
    with gzip.open(tmp_path / "7.json.gz", "w") as f:
        f.write(json.dumps(BROKEN_TOKEN_TRANSFER_BLOCK).encode())
    out = run_all_tasks(read_blocks(spark, str(tmp_path / "*.json.gz")))
    assert out["transfers"].count() == 0
    errors = out["errors"].collect()
    assert len(errors) == 1
    assert errors[0].name == "blocks_to_transfers"
    assert errors[0].block == "7.json.gz"
    assert "no token balance change" in errors[0].message
    # the job itself never failed; other tables fine
    assert out["transactions"].count() == 1
    assert out["blocks"].count() == 1


def test_keep_subdirs_partitions_outputs(spark, tmp_path, blocks_raw):
    from solana_etl_spark.sinks import write_task_outputs

    out = run_all_tasks(blocks_raw)
    write_task_outputs(
        {"transfers": out["transfers"]}, str(tmp_path), keep_subdirs=True
    )
    parts = sorted(
        p.split("=")[-1]
        for p in glob.glob(str(tmp_path / "transfers" / "slot_bucket=*"))
    )
    assert parts == ["110130000", "110360000"]


def _copy_block(overrides_tx=None, blockTime=1700000001):
    import copy

    block = copy.deepcopy(BROKEN_TOKEN_TRANSFER_BLOCK)
    block["result"]["blockTime"] = blockTime
    # make the base tx valid: give it a token balance entry so the transfer
    # enriches cleanly
    tx = block["result"]["transactions"][0]
    tx["meta"]["postTokenBalances"] = [
        {
            "accountIndex": 0,
            "mint": "MINTX",
            "uiTokenAmount": {"amount": "12345", "decimals": 6},
        }
    ]
    if overrides_tx:
        overrides_tx(tx)
    return block


def test_malformed_tx_row_isolated(spark, tmp_path):
    """A malformed transaction inside a good block becomes a
    blocks_to_transactions error row; sibling rows survive (reference
    per-row try/except, TransformTask.py:24-50)."""
    import copy

    block = _copy_block()
    good_tx = block["result"]["transactions"][0]
    bad_tx = copy.deepcopy(good_tx)
    bad_tx["transaction"]["signatures"] = []  # first-signature IndexError
    bad_tx2 = copy.deepcopy(good_tx)
    bad_tx2["transaction"]["message"]["accountKeys"] = None  # KeyError
    bad_tx2["transaction"]["signatures"] = ["SIGBAD2"]
    block["result"]["transactions"] = [good_tx, bad_tx, bad_tx2]
    with gzip.open(tmp_path / "8.json.gz", "w") as f:
        f.write(json.dumps(block).encode())

    out = run_all_tasks(read_blocks(spark, str(tmp_path / "*.json.gz")))
    txs = out["transactions"].collect()
    assert [t.signature for t in txs] == ["SIGBROKEN"]
    errs = sorted(
        out["errors"].filter(F.col("name") == "blocks_to_transactions").collect(),
        key=lambda r: r.message,
    )
    assert len(errs) == 2
    assert errs[0].block == "8.json.gz"
    assert errs[0].message == "transaction has malformed account keys"
    assert errs[1].message == "transaction has no signatures"
    # blocks row still covers all three raw transactions
    assert out["blocks"].collect()[0].numTransactions == 3


def test_u64_transfer_amount_routed_to_errors(spark, tmp_path):
    """A token transfer amount above int64 must not silently become a NULL
    value in the good output — it routes to the errors side-channel
    (the reference's unbounded int would blow up the declared int64 schema)."""

    def bump_amount(tx):
        info = tx["transaction"]["message"]["instructions"][0]["parsed"]["info"]
        info["amount"] = "18446744073709551615"  # u64 max > int64 max

    block = _copy_block(overrides_tx=bump_amount)
    with gzip.open(tmp_path / "9.json.gz", "w") as f:
        f.write(json.dumps(block).encode())

    out = run_all_tasks(read_blocks(spark, str(tmp_path / "*.json.gz")))
    assert out["transfers"].count() == 0
    errs = out["errors"].collect()
    assert len(errs) == 1
    assert errs[0].name == "blocks_to_transfers"
    assert errs[0].message == "transfer amount not int64-representable"


def test_null_blocktime_block_still_aggregates(spark, tmp_path):
    """getBlock may return blockTime=null; the blocks row must still carry
    the aggregated transaction counts (null join keys never match — the r1
    (path, block_time, blockhash) join emitted a zero-filled row)."""
    block = _copy_block(blockTime=None)
    with gzip.open(tmp_path / "10.json.gz", "w") as f:
        f.write(json.dumps(block).encode())

    out = run_all_tasks(read_blocks(spark, str(tmp_path / "*.json.gz")))
    rows = out["blocks"].collect()
    assert len(rows) == 1
    assert rows[0].time is None
    assert rows[0].numTransactions == 1
    assert rows[0].numSuccessful == 1


def test_load_file_errors_hold_only_selected_tasks(spark, tmp_path):
    """load-file's errors table holds the json_to_blocks rows plus the
    SELECTED tasks' rows, like the reference, which runs only those tasks
    (src/load/FileOutput.py:66-91,157-166)."""
    from solana_etl_spark.cli import cmd_load_file

    blocks = tmp_path / "blocks" / "0"
    blocks.mkdir(parents=True)
    with gzip.open(blocks / "7.json.gz", "w") as f:
        f.write(json.dumps(BROKEN_TOKEN_TRANSFER_BLOCK).encode())
    (blocks / "900000002.json").write_text("not json {{{")

    def error_names(tasks):
        dest = tmp_path / f"out_{tasks}"
        assert cmd_load_file([tasks, str(tmp_path / "blocks"), str(dest)]) == 0
        rows = spark.read.csv(
            str(dest / "errors"),
            header=True,
            schema="name string, block string, message string",
        ).collect()
        return sorted(r.name for r in rows)

    assert error_names("transactions") == ["json_to_blocks"]
    assert error_names("all") == ["blocks_to_transfers", "json_to_blocks"]
