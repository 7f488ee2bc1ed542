"""SQL-text quoting (functions/sqltext.py): every builder that composes
Spark SQL text must accept the column names ``F.col`` accepts and the
literal values ``F.lit`` accepts, and no module other than sqltext may
grow its own quoting helper."""

from __future__ import annotations

import ast
import math
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from solana_etl_spark.functions.sqltext import double_lit, ident, string_lit
from solana_etl_spark.operators.dedup import word_shingles
from solana_etl_spark.operators.impute import impute_group_median
from solana_etl_spark.operators.packing import chunk_documents
from solana_etl_spark.operators.prefix import range_bucket
from solana_etl_spark.operators.profile import profile_table
from solana_etl_spark.operators.sketch import frequent_items
from solana_etl_spark.operators.text import char_ngrams
from solana_etl_spark.operators.vocab import merge_pair_expr, merge_pair_sql

HOSTILE_NAMES = ["body text", "it's", "ünï", "select"]

_DOCS = [
    (1, "The quick brown fox jumps over the lazy dog. " * 3),
    (2, "  Short  Doc  "),
    (3, "a a a a b b c"),
    (4, ""),
]
_VALUES = [
    ("a", 1.0, False), ("a", 3.0, False), ("a", None, True),
    ("b", 10.0, False), ("b", None, True), ("c", None, True),
]


def _docs(spark, name):
    return spark.createDataFrame(_DOCS, ["doc_id", "text"]).withColumnRenamed(
        "text", name
    )


def _values(spark, name):
    return spark.createDataFrame(
        _VALUES, "k string, v double, miss boolean"
    ).withColumnRenamed("v", name)


# each case: (spark, column name) -> sorted rows; the column name itself
# never appears in the rows, so a renamed column must give the same ones
CASES = {
    "chunk_documents": lambda spark, c: chunk_documents(
        _docs(spark, c), chunk_chars=16, stride=8, text_col=c
    ),
    "impute_group_median": lambda spark, c: impute_group_median(
        _values(spark, c), "k", c, F.col("miss"), id_cols=()
    ).select("k", "is_missing", "value_raw", "value_imputed"),
    "char_ngrams": lambda spark, c: _docs(spark, c).select(
        "doc_id", F.array_sort(char_ngrams(c)).alias("g")
    ),
    "word_shingles": lambda spark, c: _docs(spark, c).select(
        "doc_id", F.array_sort(word_shingles(c)).alias("g")
    ),
    "range_bucket": lambda spark, c: _values(spark, c).select(
        "k", F.col(c).alias("v"), range_bucket(c, [0.5, 2.0, 5.0]).alias("b")
    ),
    "frequent_items": lambda spark, c: frequent_items(
        _values(spark, "v").withColumnRenamed("k", c), c, phi_num=1, phi_den=4
    ),
    "profile_table": lambda spark, c: profile_table(
        _values(spark, c), columns=["k", c]
    ).select(F.col("column") == "k", "n_rows", "n_nulls", "n_distinct",
             "min_value", "max_value", "avg_len"),
}


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: tuple(map(repr, t))
    )


@pytest.fixture(scope="module")
def plain_rows(spark):
    return {op: _rows(build(spark, "plain")) for op, build in CASES.items()}


@pytest.mark.parametrize("name", HOSTILE_NAMES)
@pytest.mark.parametrize("op", sorted(CASES))
def test_builders_accept_hostile_column_names(spark, plain_rows, op, name):
    assert _rows(CASES[op](spark, name)) == plain_rows[op]


def test_range_bucket_non_finite_splits_match_column_form(spark):
    inf, nan = float("inf"), float("nan")
    splits = [-inf, -1.0, 0.0, 2.5, inf, nan]
    vals = [-inf, -2.0, -1.0, 0.0, 1.0, 2.5, 3.0, inf, nan, None]
    df = spark.createDataFrame(list(enumerate(vals)), "i int, v double")
    out = df.select(
        "i",
        range_bucket("v", splits).alias("s"),
        range_bucket(F.col("v"), splits).alias("c"),
    ).collect()
    assert len(out) == len(vals)
    assert all(r["s"] == r["c"] for r in out)


def test_double_lit_forms():
    assert double_lit(59) == "59.0D"
    assert double_lit(float("-inf")) == "double('-Infinity')"
    assert double_lit(float("inf")) == "double('Infinity')"
    assert double_lit(math.nan) == "double('NaN')"


def test_merge_pair_sql_matches_expr_on_escaped_symbols(spark):
    pairs = [("'", "a"), ("\\", "'"), ("\\%", "ü"), ("日", "本"), ("a", "\\n")]
    words = [
        ["'", "a", "'", "a", "b"],
        ["\\", "'", "\\", "\\", "'"],
        ["\\%", "ü", "\\%", "x", "\\%", "ü"],
        ["日", "本", "日", "本", "語"],
        ["a", "\\n", "a", "a", "\\n"],
    ]
    df = spark.createDataFrame([(w,) for w in words], "symbols array<string>")
    for a, b in pairs:
        got = df.select(
            F.expr(merge_pair_sql("symbols", a, b)).alias("s"),
            merge_pair_expr(F.col("symbols"), a, b).alias("e"),
        ).collect()
        assert all(r["s"] == r["e"] for r in got), (a, b)
        assert any(a + b in r["s"] for r in got), (a, b)


def test_string_lit_round_trips(spark):
    texts = ["it's", "back\\slash", "\\%", "\\n", "tab\tnl\n", "ünï", "''"]
    got = spark.range(1).select(
        *[F.expr(string_lit(t)).alias(f"c{i}") for i, t in enumerate(texts)]
    ).first()
    assert list(got) == texts


def test_ident_resolves_backtick_and_dot_names(spark):
    names = ["a`b", "a.b", "``", "x y"]
    schema = StructType([StructField(n, StringType()) for n in names])
    df = spark.createDataFrame([tuple(f"v{i}" for i in range(len(names)))], schema)
    got = df.select(*[F.expr(ident(n)) for n in names]).first()
    assert list(got) == [f"v{i}" for i in range(len(names))]
    assert df.select(F.expr(ident("a.b"))).schema.fields[0].dataType == StringType()


def test_plain_name_parses_to_same_tree(spark):
    df = spark.createDataFrame([(1.0,)], "v double")

    def parsed(text):
        return df.select(F.expr(text))._jdf.queryExecution().logical().toString()

    assert parsed(f"{ident('v')} + 1") == parsed("v + 1")


# --- source guard -----------------------------------------------------------

PKG = pathlib.Path(__file__).resolve().parent.parent / "solana_etl_spark"
SQLTEXT = PKG / "functions" / "sqltext.py"
PRIVATE_HELPERS = {"_qid", "_sql_str", "_double_literal"}


def _quoting_sites(path: pathlib.Path) -> list[str]:
    """Spark-dialect quoting outside sqltext: a ``.replace`` of a backtick,
    a ``.replace`` of a single quote with a backslash escape, or a
    definition of one of the retired private helpers. DuckDB oracle text
    doubles quotes (``''``) — a different dialect, not flagged."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.name in PRIVATE_HELPERS:
                found.append(f"{path.name}:{node.lineno} def {node.name}")
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "replace"
            and len(node.args) == 2
            and all(isinstance(a, ast.Constant) for a in node.args)
        ):
            old, new = (a.value for a in node.args)
            if old == "`" or (old == "'" and "\\" in str(new)):
                found.append(f"{path.name}:{node.lineno} replace({old!r}, {new!r})")
    return found


def test_only_sqltext_quotes_spark_sql():
    sites = [
        s
        for p in sorted(PKG.rglob("*.py"))
        if p != SQLTEXT
        for s in _quoting_sites(p)
    ]
    assert sites == [], f"quote via functions/sqltext.py instead: {sites}"


def test_source_guard_sees_the_retired_helpers(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def _qid(n):\n    return n.replace('`', '``')\n"
        "x = s.replace(\"'\", \"\\\\'\")\ny = s.replace(\"'\", \"''\")\n"
    )
    assert len(_quoting_sites(probe)) == 3
    assert len(_quoting_sites(SQLTEXT)) == 2
