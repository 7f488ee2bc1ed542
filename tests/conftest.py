from __future__ import annotations

import pytest

from solana_etl_spark.session import get_spark
from solana_etl_spark.sources import read_blocks
from solana_etl_spark.plans.views import transactions_view

FIXTURE_GLOB = "/root/reference/test/resources/blocks/*/*.json.gz"
BLOCK_110130000 = "/root/reference/test/resources/blocks/110130000/110130000.json.gz"
TESTDATA = "/root/testdata"

INTERESTING_TX = (
    "2XMqtpXpp83pupsM5iiie2s69iRTHrV6oA6zxDTY9hRC4M2Rr9Yh5knSkBZbk22Wt7Qv88akacJifnaX6oL5ncqS"
)
TOKEN_TX = (
    "44DLZ5ezRVvibgxwc4erA4ywQ7XUyf3DvPyt3uqsQR1ucZs2wSrBcHJRe7V2P2FoYJK9XPXNsp4mAnVX8sLXpvin"
)


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: a long-running property test (still runs in tier-1)"
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests", master="local[8]", shuffle_partitions=8
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def blocks_raw(spark):
    # NOTE deliberately NOT cached: caching the pre-explode block rows
    # materializes whole 10 MB+ documents into the columnar cache and defeats
    # nested-schema pruning; derived (post-explode) views are what we cache.
    return read_blocks(spark, FIXTURE_GLOB)


@pytest.fixture(scope="session")
def txs(blocks_raw):
    return transactions_view(blocks_raw).cache()


@pytest.fixture(scope="session")
def txs_110130000(txs):
    import pyspark.sql.functions as F

    return txs.filter(F.col("path").contains("110130000")).cache()
