from solana_etl_spark.sources.blocks import read_blocks
from solana_etl_spark.sources.tables import TESTDATA_TABLES

__all__ = ["read_blocks", "TESTDATA_TABLES"]
