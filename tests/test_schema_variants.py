"""Input-schema variants the reference tolerates (SURVEY §1.3):
plain-string accountKeys, scalar `parsed`, missing meta fields."""

from __future__ import annotations

import gzip
import json

import pyspark.sql.functions as F

from solana_etl_spark.sources import read_blocks
from solana_etl_spark.plans.views import transactions_view, transfers_view


def _write_block(path, block):
    with gzip.open(path, "w") as f:
        f.write(json.dumps(block).encode())


SYNTH_BLOCK = {
    "jsonrpc": "2.0",
    "id": 1,
    "result": {
        "blockHeight": 1,
        "blockTime": 1700000000,
        "blockhash": "HASH1",
        "parentSlot": 41,
        "previousBlockhash": "HASH0",
        "transactions": [
            {
                "meta": {
                    "err": None,
                    "fee": 5000,
                    "preBalances": [100_000, 50_000, 1],
                    "postBalances": [75_000, 70_000, 1],
                    "preTokenBalances": [],
                    "postTokenBalances": [],
                    "innerInstructions": [],
                    "logMessages": [],
                },
                "transaction": {
                    "signatures": ["SIG1"],
                    "message": {
                        # plain-string accountKeys form (Account.py:20-26)
                        "accountKeys": ["AAA", "BBB", "11111111111111111111111111111111"],
                        "recentBlockhash": "RBH",
                        "instructions": [
                            {
                                "program": "system",
                                "programId": "11111111111111111111111111111111",
                                "parsed": {
                                    "type": "transfer",
                                    "info": {
                                        "source": "AAA",
                                        "destination": "BBB",
                                        "lamports": 20_000,
                                    },
                                },
                            },
                            {
                                "program": "spl-memo",
                                "programId": "Memo1UhkJRfHyvLMcVucJwxXeuD728EqVDDwQDxFMNo",
                                "parsed": "bm90ZSB0byBzZWxm",
                            },
                        ],
                    },
                },
            }
        ],
    },
}


def test_string_account_keys(spark, tmp_path):
    _write_block(tmp_path / "42.json.gz", SYNTH_BLOCK)
    blocks = read_blocks(
        spark, str(tmp_path / "*.json.gz"), account_keys_as_strings=True
    )
    txs = transactions_view(blocks)
    row = txs.first()
    assert [a.pubkey for a in row.accounts] == [
        "AAA",
        "BBB",
        "11111111111111111111111111111111",
    ]
    assert row.net_balance_change == -5000
    # scalar `parsed` (spl-memo) flows through as a node; transfer extracted
    transfers = transfers_view(txs).filter(F.col("error").isNull()).collect()
    assert len(transfers) == 1
    assert transfers[0].source == "AAA" and transfers[0].value == 20_000
    assert transfers[0].mint == "sol" and transfers[0].scale == 9


def test_memo_instruction_never_matches_filters(spark, tmp_path):
    from solana_etl_spark.plans.instructions import filter_instructions

    _write_block(tmp_path / "42.json.gz", SYNTH_BLOCK)
    blocks = read_blocks(
        spark, str(tmp_path / "*.json.gz"), account_keys_as_strings=True
    )
    txs = transactions_view(blocks)
    # program-name match without type: memo matches 'spl-memo', not 'system'
    memo = filter_instructions(txs, "spl-memo", None, flatten=True, output_col="f")
    assert memo.select(F.size("f")).first()[0] == 1
    # with a type requested, a scalar-parsed memo never matches (type is null)
    memo_typed = filter_instructions(txs, "spl-memo", "transfer", flatten=True, output_col="f")
    assert memo_typed.select(F.size("f")).first()[0] == 0
