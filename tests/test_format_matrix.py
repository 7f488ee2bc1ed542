"""Batch-sink format matrix: ``write_table`` in parquet / ORC / JSON / CSV
round-trips a table value-identically through ``spark.read`` (the
warehouse-interchange guarantee a reference user migrating storage formats
needs)."""

from __future__ import annotations

import glob

import pytest

from solana_etl_spark.sinks import write_table


@pytest.fixture(scope="module")
def task_out(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .limit(200)
    )
    df = df.cache()
    df.count()
    return df


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy("o_orderkey").collect()]


def _read(spark, path, fmt, schema=None):
    r = spark.read if schema is None else spark.read.schema(schema)
    if fmt == "csv":
        # the written header, and a nullValue marker absent from the data so
        # that a quoted empty field reads back as "" rather than NULL
        r = r.option("header", True).option("nullValue", "\\N")
    return r.format(fmt).load(path)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_format_round_trip_value_identity(spark, task_out, fmt, tmp_path):
    path = str(tmp_path / fmt)
    write_table(task_out, path, fmt)
    back = _read(spark, path, fmt, schema=task_out.schema)
    assert back.schema == task_out.schema
    assert _sorted_rows(back) == _sorted_rows(task_out)


def test_orc_preserves_predicate_pushdown(spark, task_out, tmp_path):
    path = str(tmp_path / "orc_pushdown")
    write_table(task_out, path, "orc")
    plan = (
        _read(spark, path, "orc")
        .filter("o_custkey = 7")
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # filter reaches the ORC scan and the scan reads only the 2 used columns
    assert "PushedFilters: [" in plan and "o_custkey" in plan.split(
        "PushedFilters"
    )[1][:200]
    assert "o_totalprice" not in plan.split("ReadSchema")[1][:200]


def test_csv_null_round_trip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, ""), (2, "x", None)], ["k", "a", "b"]
    )
    path = str(tmp_path / "csvnull")
    write_table(df, path, "csv", single_file=True)
    # the one CSV dialect: NULL is an empty field, "" a quoted empty field
    (part,) = glob.glob(f"{path}/part-*.csv")
    with open(part) as f:
        assert f.read().splitlines() == ["k,a,b", '1,,""', "2,x,"]
    back = _read(spark, path, "csv", schema=df.schema)
    got = {r["k"]: (r["a"], r["b"]) for r in back.collect()}
    assert got[1] == (None, "")   # NULL and empty string stay distinct
    assert got[2] == ("x", None)
