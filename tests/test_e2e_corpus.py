"""Multi-block synthetic corpus e2e: the full pipeline over 240 blocks with
block-level error probes (mirrors reference test/load/test_FileOutput.py's
shape assertions, at a scale that exercises the many-file read planner and
the persist fan-out)."""

from __future__ import annotations

import pyspark.sql.functions as F

from solana_etl_spark.plans.tasks import run_all_tasks, run_all_tasks_with_handle
from solana_etl_spark.sources import read_blocks
from solana_etl_spark.sources.synth import N_BLOCKS, ensure_e2e_corpus, make_block


def test_corpus_is_deterministic():
    a, b = make_block(200_000_007), make_block(200_000_007)
    assert a == b
    assert len(a["result"]["transactions"]) >= 8


def test_e2e_corpus_all_tasks(spark):
    corpus = ensure_e2e_corpus()
    out = run_all_tasks(read_blocks(spark, f"{corpus}/*/*.json.gz"))

    blocks = out["blocks"].collect()
    assert len(blocks) == N_BLOCKS  # probes excluded, empty blocks kept

    n_txs = sum(b.numTransactions for b in blocks)
    assert out["transactions"].count() == n_txs
    assert n_txs > 2000

    # per-block partition completeness: successful + errors = total
    assert all(b.numSuccessful + b.numErrors == b.numTransactions for b in blocks)

    # the three probe files became block-level error rows, nothing else
    errors = out["errors"].collect()
    assert len(errors) == 3
    assert {e.name for e in errors} == {"json_to_blocks"}
    assert sorted(e.message for e in errors) == [
        "malformed block json",
        "missing block result",
        "missing block result",
    ]

    # transfers exist and carry both kinds
    kinds = (
        out["transfers"]
        .groupBy("mint")
        .count()
        .withColumn("is_sol", F.col("mint") == "sol")
        .collect()
    )
    assert any(k.is_sol for k in kinds) and any(not k.is_sol for k in kinds)


def test_accounts_by_type_equals_transactions_task(spark):
    """api.Transactions.accounts_by_type classifies accounts exactly like
    the transactions task's accountsByType column: its sets are the union
    of that column over the corpus."""
    import json

    from solana_etl_spark.api import Transactions

    corpus = ensure_e2e_corpus()
    blocks_raw = read_blocks(spark, f"{corpus}/*/*.json.gz")
    got = Transactions.from_blocks(blocks_raw).accounts_by_type()
    want: dict[str, set] = {k: set() for k in got}
    outputs, view = run_all_tasks_with_handle(blocks_raw)
    for r in outputs["transactions"].select("accountsByType").collect():
        for k, accounts in json.loads(r.accountsByType).items():
            want[k].update(accounts)
    view.unpersist()
    assert got == want
    assert all(want.values())
