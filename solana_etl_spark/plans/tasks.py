"""The three reference output tables as DataFrame pipelines, plus the errors
side-channel.

Reference task definitions: src/load/TransformTask.py:19-105 (row builders)
and :114-176 (declared schemas — reproduced in schemas.py). The ``path``
column carries the block-file *basename* (reference src/load/FileOutput.py:74
``Path(json_and_path[1]).name``).

Scale notes:
* ``transactions`` / ``transfers`` are shuffle-free maps over the
  transactions view.
* ``blocks`` is one hash aggregation keyed by block path — partial (map-side)
  aggregation applies to every measure; the distinct-account counts use
  per-tx pre-deduplicated arrays so the exchange carries only small per-tx
  summaries, never raw JSON.
* ``run_all_tasks`` persists the transactions view that the three sinks fan
  out from (the dask reference computes the shared bag once for all
  outputs — src/load/FileOutput.py:167-169; Spark re-scans per action
  unless persisted). ``run_all_tasks_with_handle`` returns it for unpersist.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solana_etl_spark.functions.sqltext import string_lit
from solana_etl_spark.plans.views import transactions_view, transfers_view

VALID_TASKS = ("transactions", "transfers", "blocks")

# the error-row ``name`` of each stage: block ingest, then each task's row
# failures (``blocks`` emits none). The reference runs only the selected
# tasks, so its errors table holds the ingest rows plus those tasks' rows
# (src/load/FileOutput.py:66-91,157-166).
INGEST_ERROR_NAME = "json_to_blocks"
TASK_ERROR_NAMES = {
    "transactions": "blocks_to_transactions",
    "transfers": "blocks_to_transfers",
}


# Expression texts (r9): derived columns are SQL strings parsed JVM-side in
# one py4j call each — the Column-API construction cost ~2 s of driver time
# per build / per streaming micro-batch in py4j round trips (see
# plans/views.py). Row-level output equality over the reference fixtures and
# the 240-block corpus was asserted against the old construction.

_SOURCE = "element_at(split(path, '/'), -1)"


def _json_int_map_sql(mode_case: str) -> str:
    """Per-mint aggregated token change as a JSON map mint → float.

    Mirrors ``total_token_changes`` (reference src/transform/Transaction.py:
    145-155): group the tx's token changes by mint, sum the mode-projected
    change (all changes of one mint share a scale, so the equal-scale
    invariant of NumberWithScale holds by construction), then scale to
    float. The filtered per-mint change list is bound ONCE via the
    one-element transform (r9): it is used by both the sum and the scale
    lookup, and HOF lambdas are interpreted, so an unbound reference would
    re-run the filter per use. ``mode_case`` is a SQL CASE over
    ``c.change``.
    """
    return f"""
to_json(map_from_entries(transform(mints, m ->
  element_at(transform(array(filter(token_changes, c -> c.mint = m)), cm ->
    named_struct(
      'key', m,
      'value', aggregate(cm, CAST(0 AS DECIMAL(38,0)), (acc, c) -> acc + {mode_case})
               / pow(10.0D, element_at(cm, 1).scale))), 1))))
"""


_OUT_MODE = "CASE WHEN c.change < 0 THEN c.change ELSE 0 END"
_IN_MODE = "CASE WHEN c.change > 0 THEN c.change ELSE 0 END"

SYSVAR_ACCOUNTS = (
    "transform(filter(account_types, a -> a.is_sysvar), a -> a.pubkey)"
)
COIN_ACCOUNTS = (
    "transform(filter(account_types,"
    " a -> NOT a.is_sysvar AND NOT a.is_program AND NOT a.is_token),"
    " a -> a.pubkey)"
)


def transactions_task(txs: DataFrame) -> DataFrame:
    """16-column ``transactions`` table (reference block_to_transactions,
    src/load/TransformTask.py:19-52)."""
    return txs.filter("tx_error IS NULL").selectExpr(
        "block_time AS time",
        "signature",
        "fee",
        "is_successful AS isSuccessful",
        "CAST(num_instructions AS TINYINT) AS numInstructions",
        "to_json(programs) AS programs",
        "CAST(num_accounts AS TINYINT) AS numAccounts",
        f"""to_json(struct(
            {SYSVAR_ACCOUNTS} AS SYSVAR,
            programs AS PROGRAM,
            token_pubkeys AS TOKEN,
            {COIN_ACCOUNTS} AS COIN)) AS accountsByType""",
        "lamports_out AS lamportsOut",
        "lamports_in AS lamportsIn",
        "CAST(size(mints) AS TINYINT) AS numMints",
        "to_json(mints) AS mints",
        f"{_json_int_map_sql(_OUT_MODE)} AS tokensOut",
        f"{_json_int_map_sql(_IN_MODE)} AS tokensIn",
        "blockhash",
        f"{_SOURCE} AS path",
    )


def transaction_errors(txs: DataFrame) -> DataFrame:
    """Per-row failures inside otherwise-good blocks → error rows (reference
    wraps each transactions-row build in try/except —
    src/load/TransformTask.py:24-50; row shape mirrors
    src/load/FileOutput.py:157-166)."""
    return txs.filter("tx_error IS NOT NULL").selectExpr(
        f"{string_lit(TASK_ERROR_NAMES['transactions'])} AS name",
        f"{_SOURCE} AS block",
        "tx_error AS message",
    )


def transfers_task(txs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """9-column ``transfers`` table + error rows (reference
    block_to_transfers, src/load/TransformTask.py:55-80)."""
    t = transfers_view(txs)
    good = t.filter("error IS NULL").selectExpr(
        "block_time AS time",
        "source",
        "destination",
        "mint",
        "value",
        "CAST(scale AS TINYINT) AS scale",
        "signature AS transaction",
        "blockhash",
        f"{_SOURCE} AS path",
    )
    errors = t.filter("error IS NOT NULL").selectExpr(
        f"{string_lit(TASK_ERROR_NAMES['transfers'])} AS name",
        f"{_SOURCE} AS block",
        "error AS message",
    )
    return good, errors


def blocks_task(txs: DataFrame, blocks_raw: DataFrame) -> DataFrame:
    """22-column per-block rollup (reference block_info,
    src/load/TransformTask.py:83-105).

    One hash aggregation; distinct-account measures union per-tx
    already-distinct arrays, so partial aggregation keeps the shuffle small.
    Blocks with zero transactions still emit a row (reference emits
    unconditionally).

    Documented divergence (SURVEY §7.5 spirit): a malformed transaction
    inside the block is counted by these null-tolerant aggregates, whereas
    the reference's block_info would raise and turn the WHOLE block into an
    error row — per-row isolation is strictly more informative, so the
    rollup keeps the block.
    """
    per_tx = txs.withColumn("coin_pubkeys", F.expr(COIN_ACCOUNTS))

    def partition_aggs(flag: str, prefix: str, num_name: str) -> list[Column]:
        def cnt(cond: str, alias: str) -> str:
            return (
                f"CAST(coalesce(count_if(({flag}) AND ({cond})), 0) AS BIGINT)"
                f" AS {alias}"
            )

        def distinct_accounts(col: str, alias: str) -> str:
            return (
                "CAST(size(array_distinct(flatten(collect_list("
                f"CASE WHEN {flag} THEN {col} END)))) AS BIGINT) AS {alias}"
            )

        return [
            F.expr(e)
            for e in (
                f"CAST(count_if({flag}) AS BIGINT) AS {num_name}",
                cnt("is_vote", f"{prefix}Votes"),
                cnt("NOT is_only_fee", f"{prefix}TransactionsMoreThanFee"),
                cnt("is_only_fee", f"{prefix}TransactionsOnlyFee"),
                f"CAST(coalesce(sum(CASE WHEN {flag} THEN fee END), 0)"
                f" AS BIGINT) AS {prefix}Fees",
                f"CAST(coalesce(sum(CASE WHEN {flag} THEN lamports_out END), 0)"
                f" AS BIGINT) AS {prefix}BalanceChange",
                distinct_accounts("programs", f"{prefix}ProgramAccounts"),
                distinct_accounts("coin_pubkeys", f"{prefix}CoinAccounts"),
                distinct_accounts("token_pubkeys", f"{prefix}TokenAccounts"),
            )
        ]

    # group by path ONLY (unique per block): getBlock may return a null
    # blockTime, and null join keys never match — grouping on (path,
    # block_time, blockhash) made such blocks emit a zero-filled row even
    # though their transactions were aggregated. block_time/blockhash come
    # from the roster side.
    agg = per_tx.groupBy("path").agg(
        F.expr("CAST(count(1) AS BIGINT) AS numTransactions"),
        *partition_aggs("is_successful", "successful", "numSuccessful"),
        *partition_aggs("NOT is_successful", "error", "numErrors"),
    )

    # keep empty blocks: left join from the block roster, zero-fill measures
    roster = blocks_raw.filter(~F.col("missing") & F.col("_corrupt_record").isNull()).select(
        "path",
        F.col("result.blockTime").alias("block_time"),
        F.col("result.blockhash").alias("blockhash"),
    )
    joined = roster.join(agg, ["path"], "left")
    measures = [c for c in agg.columns if c != "path"]
    joined = joined.selectExpr(
        "block_time AS time",
        "blockhash AS hash",
        f"{_SOURCE} AS path",
        *[f"coalesce({m}, 0) AS {m}" for m in measures],
    )
    return joined


def ingest_errors(blocks_raw: DataFrame) -> DataFrame:
    """Block-level failures → error rows (reference
    src/load/FileOutput.py:80-91 ``json_to_blocks`` rows): malformed JSON and
    missing blocks (no ``result`` key → downstream field access raises)."""
    bad = blocks_raw.filter(F.col("missing") | F.col("_corrupt_record").isNotNull())
    return bad.selectExpr(
        f"{string_lit(INGEST_ERROR_NAME)} AS name",
        f"{_SOURCE} AS block",
        "CASE WHEN _corrupt_record IS NOT NULL THEN 'malformed block json'"
        " ELSE 'missing block result' END AS message",
    )


def run_all_tasks_with_handle(
    blocks_raw: DataFrame,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """All three task tables + the errors table from one pass over the raw
    blocks, plus the persisted transactions view so long-running callers
    (streaming micro-batches) can unpersist after their writes.
    Persisting the transactions view mirrors the reference's compute-once
    fan-out (src/load/FileOutput.py:167-169)."""
    good_blocks = blocks_raw.filter(F.col("_corrupt_record").isNull())
    txs = transactions_view(good_blocks).persist()
    transfers, transfer_errors = transfers_task(txs)
    outputs = {
        "transactions": transactions_task(txs),
        "transfers": transfers,
        "blocks": blocks_task(txs, blocks_raw),
        "errors": ingest_errors(blocks_raw)
        .unionByName(transaction_errors(txs))
        .unionByName(transfer_errors),
    }
    return outputs, txs


def run_all_tasks(blocks_raw: DataFrame) -> dict[str, DataFrame]:
    outputs, _ = run_all_tasks_with_handle(blocks_raw)
    return outputs
