"""Transfer-extraction goldens from reference
test/transform/test_Interactions.py and test/load/test_FileOutput.py."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from solana_etl_spark.plans.views import transfers_view
from solana_etl_spark.plans.tasks import run_all_tasks_with_handle


def test_transfer_counts_110130000(txs_110130000):
    t = transfers_view(txs_110130000).cache()
    by_type = dict(
        t.filter(F.col("error").isNull()).groupBy("transfer_type").count().collect()
    )
    assert by_type == {"coin": 321, "token": 73}
    assert t.filter(F.col("error").isNotNull()).count() == 0


def test_e2e_output_shapes(blocks_raw):
    """Reference test/load/test_FileOutput.py:35-47: transfers 394×9 / 194×9,
    transactions 3439×16 / 4435×16, blocks 1×22 each, errors 0×3."""
    out, view = run_all_tasks_with_handle(blocks_raw)

    transfers = out["transfers"].cache()
    assert len(transfers.columns) == 9
    counts = dict(transfers.groupBy("path").count().collect())
    assert counts["110130000.json.gz"] == 394
    assert counts["110360000.json.gz"] == 194

    transactions = out["transactions"].cache()
    assert len(transactions.columns) == 16
    tx_counts = dict(transactions.groupBy("path").count().collect())
    assert tx_counts["110130000.json.gz"] == 3439
    assert tx_counts["110360000.json.gz"] == 4435

    blocks = out["blocks"].cache()
    assert len(blocks.columns) == 22
    assert blocks.count() == 2

    assert len(out["errors"].columns) == 3
    assert out["errors"].count() == 0
    view.unpersist()


def test_blocks_task_values(blocks_raw):
    """block_info golden values for 110130000 derived from the collection
    goldens (num/votes/fees/balanceChange per partition)."""
    out, view = run_all_tasks_with_handle(blocks_raw)
    b = out["blocks"].filter(F.col("path") == "110130000.json.gz").first()
    view.unpersist()
    assert b.numTransactions == 3439
    # all 3439 txs are only_fee and successful.only_fee == 3185 ⇒
    # successful.more_than_fee == 0 ⇒ numSuccessful == 3185
    assert b.numSuccessful == 3185
    # direct goldens
    assert b.successfulVotes == 2531
    assert b.errorVotes == 2677 - 2531
    assert b.successfulFees == 16000000
    assert b.errorFees == 17420000 - 16000000
    assert b.successfulBalanceChange == -149885890118570
    assert b.errorBalanceChange == -1420000
    assert b.successfulTransactionsOnlyFee + b.errorTransactionsOnlyFee == 3439
    assert b.successfulTransactionsMoreThanFee == 0
    assert b.numSuccessful + b.numErrors == 3439
    assert b.successfulTransactionsOnlyFee == 3185


def test_transactions_task_row(txs_110130000):
    """Field-level check of one transactions-task row (the token tx)."""
    from solana_etl_spark.plans.tasks import transactions_task
    from tests.conftest import TOKEN_TX

    row = (
        transactions_task(txs_110130000)
        .filter(F.col("signature") == TOKEN_TX)
        .first()
    )
    assert row.isSuccessful is True
    assert row.numAccounts == 27
    assert set(json.loads(row.mints)) == {
        "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v",
        "EWS2ATMt5fQk89NWLJYNRmGaNoji8MhFZkUB4DiWCCcz",
    }
    tokens_out = json.loads(row.tokensOut)
    assert tokens_out["EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v"] == -12.884202
    by_type = json.loads(row.accountsByType)
    assert set(by_type.keys()) == {"SYSVAR", "PROGRAM", "TOKEN", "COIN"}
    assert len(by_type["TOKEN"]) == 9
    assert len(by_type["COIN"]) == 15
