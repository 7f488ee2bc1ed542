"""The load tables through ``load-file``: every format, with and without
``--single_file`` and ``--keep_subdirs``, over synthetic blocks written in the
extract layout. Each case checks the file count of every output directory,
that the rows read back equal ``run_all_tasks``, and (CSV) that NULL and ""
stay distinct in the bytes. The output schemas are pinned to their
declarations in ``schemas.py``."""

from __future__ import annotations

import glob
import gzip
import os
import re
from collections import Counter

import pytest

from solana_etl_spark.cli import cmd_load_file
from solana_etl_spark.plans.tasks import run_all_tasks_with_handle
from solana_etl_spark.schemas import (
    BLOCKS_OUT_SCHEMA,
    ERRORS_SCHEMA,
    TRANSACTIONS_OUT_SCHEMA,
    TRANSFERS_OUT_SCHEMA,
)
from solana_etl_spark.sinks import SLOTS_PER_BUCKET
from solana_etl_spark.sources import read_blocks
from solana_etl_spark.sources.extract import write_block_file
from solana_etl_spark.sources.synth import BASE_SLOT, make_block

# two buckets, so --keep_subdirs writes more than one slot_bucket= directory
SLOTS = (BASE_SLOT, BASE_SLOT + 1, BASE_SLOT + SLOTS_PER_BUCKET)
NULL_TIME_SLOT, EMPTY_HASH_SLOT = SLOTS[1], SLOTS[2]
BAD_SLOT = BASE_SLOT + 2  # malformed JSON: one json_to_blocks error row
TABLES = ("transactions", "transfers", "blocks", "errors")


@pytest.fixture(scope="module")
def blocks_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("load_sinks") / "blocks"
    for slot in SLOTS:
        block = make_block(slot)
        if slot == NULL_TIME_SLOT:
            block["result"]["blockTime"] = None  # time is NULL in every table
        if slot == EMPTY_HASH_SLOT:
            block["result"]["blockhash"] = ""  # blockhash / hash is ""
        write_block_file(root, slot, block)
    with gzip.open(write_block_file(root, BAD_SLOT, {}), "wb") as f:
        f.write(b"not json {{{")
    return str(root)


@pytest.fixture(scope="module")
def expected(spark, blocks_dir):
    """Per table: the frame's schema, its rows, and the files Spark writes
    without coalescing: one per non-empty partition, and one per partition
    holding rows of a slot bucket under ``partitionBy``."""
    outputs, view = run_all_tasks_with_handle(
        read_blocks(spark, f"{blocks_dir}/**/*.json*")
    )
    out = {}
    for name, df in outputs.items():
        key = "block" if "block" in df.columns else "path"
        parts = [
            {_bucket(r[0]) for r in rows}
            for rows in df.select(key).rdd.glom().collect()
        ]
        out[name] = {
            "schema": df.schema,
            "rows": Counter(tuple(r) for r in df.collect()),
            # task 0 writes a file even when empty: an empty job still
            # leaves one file with the schema
            "files": sum(1 for i, p in enumerate(parts) if p or i == 0),
            "bucket_files": Counter(b for p in parts for b in p),
        }
    view.unpersist()
    return out


def _bucket(path: str) -> str:
    m = re.search(r"(\d+)\.json", path)
    if not m:
        return "__HIVE_DEFAULT_PARTITION__"
    return str(int(m.group(1)) // SLOTS_PER_BUCKET * SLOTS_PER_BUCKET)


def _data_files(d: str) -> list[str]:
    return [
        f for f in os.listdir(d)
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(d, f))
    ]


def _read_back(spark, path: str, fmt: str, schema):
    r = spark.read.schema(schema)
    if fmt == "csv":
        # Spark's reader maps an unquoted empty field (NULL) and a quoted one
        # ("") both to NULL unless nullValue names a marker absent from the
        # data; then each reads back as written
        r = r.option("header", True).option("nullValue", "\\N")
    return r.format(fmt).load(path).select(*schema.names)


@pytest.mark.parametrize("keep_subdirs", [False, True], ids=["flat", "subdirs"])
@pytest.mark.parametrize("single_file", [True, False], ids=["single", "many"])
@pytest.mark.parametrize("fmt", ["csv", "parquet", "orc", "json"])
def test_load_file_layout_and_rows(
    spark, blocks_dir, expected, tmp_path, fmt, single_file, keep_subdirs
):
    dest = str(tmp_path / "out")
    argv = ["all", blocks_dir, dest, "--destination_format", fmt]
    argv += [] if single_file else ["--no-single_file"]
    argv += ["--keep_subdirs"] if keep_subdirs else []
    spark.catalog.clearCache()
    assert cmd_load_file(argv) == 0
    # the transactions view load-file persists is released after the write
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    for name in TABLES:
        want, path = expected[name], os.path.join(dest, name)
        if keep_subdirs:
            dirs = {
                d.split("=", 1)[1]: d
                for d in glob.glob(os.path.join(path, "slot_bucket=*"))
            }
            assert set(dirs) == set(want["bucket_files"]), name
            for bucket, d in dirs.items():
                n = 1 if single_file else want["bucket_files"][bucket]
                assert len(_data_files(d)) == n, (name, bucket)
        else:
            n = 1 if single_file else want["files"]
            assert len(_data_files(path)) == n, name

        back = _read_back(spark, path, fmt, want["schema"])
        assert Counter(tuple(r) for r in back.collect()) == want["rows"], name

    if fmt == "csv":
        _assert_null_and_empty_distinct(dest)


def _assert_null_and_empty_distinct(dest: str) -> None:
    """blocks: time (first column) is NULL for one block, hash (second) is
    "" for another. NULL is an empty field, "" is a quoted empty field."""
    lines = []
    for f in glob.glob(os.path.join(dest, "blocks", "**", "part-*"), recursive=True):
        with open(f) as fh:
            lines += fh.read().splitlines()

    def line_of(slot):
        (line,) = [x for x in lines if f",{slot}.json.gz," in x]
        return line

    assert line_of(NULL_TIME_SLOT).startswith(",BH")
    assert line_of(EMPTY_HASH_SLOT).split(",")[1] == '""'


@pytest.mark.parametrize(
    "name, declared",
    [
        ("transactions", TRANSACTIONS_OUT_SCHEMA),
        ("transfers", TRANSFERS_OUT_SCHEMA),
        ("blocks", BLOCKS_OUT_SCHEMA),
        ("errors", ERRORS_SCHEMA),
    ],
)
def test_task_output_matches_declared_schema(expected, name, declared):
    """run_all_tasks writes the column names, types and order declared in
    schemas.py (reference TransformTask.py:114-176). Nullability is not
    pinned: the declarations leave every field nullable, while counts and
    literals come out non-nullable."""
    got = expected[name]["schema"]
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in declared
    ]
