"""Names of the synthetic testdata tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet each under ``{sf_dir}/``.
"""

from __future__ import annotations

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
