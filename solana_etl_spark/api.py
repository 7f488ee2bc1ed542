"""User-facing facade: the reference's object-model query surface
(Transactions/Block combinators) re-expressed over DataFrames, so a user of
zuyezheng/solana-etl can switch with familiar verbs.

Reference surface mirrored (file:line):
* Transactions.successful/errors/votes/more_than_fee/only_fee/filter —
  src/transform/Transactions.py:43-71
* Transactions.fees / balance_change(agg) — :32-41
* Transactions.accounts_by_type — :73-85
* Block.find_transaction (membership in FULL signatures array, not just the
  first) — src/transform/Block.py:71-77
* Interactions.by_type — src/transform/Interactions.py:45-51
* BalanceChangeAgg modes — src/transform/BalanceChange.py:42-63
* GraphBuilder.build_coin_transfers (stub in the reference) — realized here
  as a coin-transfer edge list, src/load/GraphBuilder.py:4-17
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solana_etl_spark.plans.tasks import COIN_ACCOUNTS, SYSVAR_ACCOUNTS
from solana_etl_spark.plans.views import transactions_view, transfers_view


class BalanceChangeAgg(Enum):
    """M1 modes (reference src/transform/BalanceChange.py:42-63)."""

    ALL = "all"
    ABS = "abs"
    IN = "in"
    OUT = "out"

    def column(self) -> Column:
        return {
            BalanceChangeAgg.ALL: F.col("net_balance_change"),
            BalanceChangeAgg.ABS: F.aggregate(
                "balance_changes",
                F.lit(0).cast("long"),
                lambda acc, x: acc + F.abs(x["change"]),
            ),
            BalanceChangeAgg.IN: F.col("lamports_in"),
            BalanceChangeAgg.OUT: F.col("lamports_out"),
        }[self]


class Transactions:
    """Collection combinators over the transactions view. Each combinator
    returns a new (lazily planned) collection — filters compose into one
    Catalyst plan, exactly like chained ``df.filter``."""

    def __init__(self, df: DataFrame):
        self.df = df

    @classmethod
    def from_blocks(cls, blocks_raw: DataFrame) -> "Transactions":
        return cls(transactions_view(blocks_raw))

    def __len__(self) -> int:
        return self.df.count()

    def filter(self, condition: Column | str) -> "Transactions":
        return Transactions(self.df.filter(condition))

    @property
    def successful(self) -> "Transactions":
        return self.filter("is_successful")

    @property
    def errors(self) -> "Transactions":
        return self.filter(~F.col("is_successful"))

    @property
    def votes(self) -> "Transactions":
        return self.filter("is_vote")

    @property
    def more_than_fee(self) -> "Transactions":
        return self.filter(~F.col("is_only_fee"))

    @property
    def only_fee(self) -> "Transactions":
        return self.filter("is_only_fee")

    @property
    def fees(self) -> int:
        return self.df.agg(F.coalesce(F.sum("fee"), F.lit(0))).first()[0]

    def balance_change(self, agg: BalanceChangeAgg = BalanceChangeAgg.ALL) -> int:
        """Σ over transactions of the mode-projected balance change
        (lamport scale 9)."""
        return self.df.agg(
            F.coalesce(F.sum(agg.column()), F.lit(0))
        ).first()[0]

    def accounts_by_type(self) -> dict[str, set[str]]:
        """Distinct accounts per type across the collection (A7)."""
        # the same account classification as the transactions task's
        # accountsByType column (plans/tasks.py)
        by_type = {
            "SYSVAR": SYSVAR_ACCOUNTS,
            "PROGRAM": "programs",
            "TOKEN": "token_pubkeys",
            "COIN": COIN_ACCOUNTS,
        }
        row = self.df.selectExpr(
            *(
                f"array_distinct(flatten(collect_list({e}))) AS {k}"
                for k, e in by_type.items()
            )
        ).first()
        return {k: set(row[k] or []) for k in by_type}

    def find(self, signature: str) -> DataFrame:
        """F7: membership in the FULL signatures array (Block.py:71-77)."""
        return self.df.filter(F.array_contains("signatures", signature))


class Interactions:
    """Transfer extraction with by-type partitioning (A10)."""

    def __init__(self, blocks_raw: DataFrame):
        self.df = transfers_view(transactions_view(blocks_raw)).filter(
            F.col("error").isNull()
        )

    def by_type(self) -> dict[str, DataFrame]:
        return {
            "coin": self.df.filter(F.col("transfer_type") == "coin"),
            "token": self.df.filter(F.col("transfer_type") == "token"),
        }

    def __len__(self) -> int:
        return self.df.count()


def coin_transfer_edges(blocks_raw: DataFrame) -> DataFrame:
    """S12 realized: the coin-transfer graph as an edge list
    (source, destination, value, scale, n_transfers) — aggregated per edge,
    ready for GraphFrames or any graph sink. (The reference's neo4j builder
    was an empty stub.)"""
    transfers = transfers_view(transactions_view(blocks_raw))
    return (
        transfers.filter(
            (F.col("transfer_type") == "coin") & F.col("error").isNull()
        )
        .groupBy("source", "destination")
        .agg(
            F.sum("value").alias("value"),
            F.first("scale").alias("scale"),
            F.count(F.lit(1)).alias("n_transfers"),
        )
    )
