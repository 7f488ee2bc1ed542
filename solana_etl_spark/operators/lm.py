"""Language-model perplexity scoring: the CCNet-style quality signal,
trained and applied on the cluster.

CCNet ranks web text by the perplexity of a small LM trained on clean
text; the pipeline-side mechanics are what matter at 100 TB and are fully
distributed here with an add-one-smoothed unigram LM:

* **training** is one token-count aggregate (map-side combined) plus a
  one-row total — the LM table is (token, log_prob), Zipf-bounded
  regardless of corpus size;
* **scoring** explodes tokens once, joins the LM on the token (broadcast
  while the vocab fits, plain shuffle join beyond), and re-aggregates per
  document.

Determinism: ``log10`` is the one non-portable step (libm vs Math.log10
may differ in the last ulp), so per-token log-probs are rounded to 9
decimals and summed as DECIMAL(28,9) — exact, associative, identical on
any partitioning and in the DuckDB oracle. Out-of-vocabulary tokens score
as an unseen event (count 0 under the same smoothing).

The reference has no text surface; charter LLM-pipeline machinery.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solana_etl_spark.operators.vocab import word_split

_LP_DECIMALS = 9
_LP_TYPE = "decimal(28,9)"


def _doc_tokens(docs: DataFrame, text_col: str) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(word_split(F.col(text_col))).alias("tok")
    )


def smoothed_log_prob(c: Column, n: Column, v: Column) -> Column:
    """Add-one-smoothed log10((c+1)/(n+v)) at the 9-decimal cross-engine
    boundary — the ONE definition of the smoothing, shared by this module
    and operators/dsir.py (pass ``F.lit(0)`` as ``c`` for the unseen
    event)."""
    return F.round(
        F.log10((c + F.lit(1.0)) / (n + v)), _LP_DECIMALS
    )


def unigram_counts(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """((tok, c) counts, 1-row (n, v) totals) — the sufficient statistics
    of the unigram LM, exposed so callers (dsir.py) can derive both the
    per-token table and the OOV scalar from one definition."""
    counts = _doc_tokens(docs, text_col).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = counts.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v"))
    return counts, totals


def train_unigram_lm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, log_prob): add-one-smoothed unigram log10 probabilities,
    rounded to 9 decimals (the cross-engine determinism boundary)."""
    counts, totals = unigram_counts(docs, text_col)
    return counts.crossJoin(F.broadcast(totals)).select(
        "tok",
        smoothed_log_prob(F.col("c"), F.col("n"), F.col("v")).alias("log_prob"),
    )


def oov_log_prob(lm_totals: tuple[int, int]) -> float:
    """Unseen-token log-prob under the same smoothing ((0+1)/(n+v))."""
    import math

    n, v = lm_totals
    return round(math.log10(1.0 / (n + v)), _LP_DECIMALS)


def score_documents(
    docs: DataFrame,
    lm: DataFrame,
    oov: float,
    text_col: str = "text",
) -> DataFrame:
    """Per-doc (n_tokens, avg_logprob): exact-decimal sum of the per-token
    log-probs / token count. Lower (more negative) = higher perplexity =
    the filter signal."""
    toks = _doc_tokens(docs, text_col)
    scored = toks.join(F.broadcast(lm), "tok", "left").select(
        "doc_id",
        F.coalesce("log_prob", F.lit(oov)).cast(_LP_TYPE).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
    )


def bigram_lm_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Bigram-LM document scoring: every token transition scored by the
    add-one-smoothed conditional ``p(b|a) = (c(ab)+1) / (c_ctx(a)+V)``
    (``c_ctx`` = occurrences of ``a`` as a context, V = vocab size), and
    each document reported as ``(doc_id, n_transitions, avg_logprob)`` —
    the conditional upgrade of the unigram CCNet signal: word-salad text
    with plausible unigrams but improbable transitions scores low where
    ``score_documents`` can't see it. Documents with < 2 tokens have no
    transitions and are dropped.

    Same float discipline as the unigram path: per-transition log10
    rounds at 9 and sums as exact DECIMAL. Shape: the transition table
    comes from a per-row adjacent-pair expression (zero joins to build),
    one (a, b) count + one context rollup (both Zipf-bounded,
    broadcast), a 1-row vocab scalar, then one per-doc aggregate."""
    from solana_etl_spark.operators.text import _ngram_expr

    big = docs.select(
        "doc_id", F.explode(F.expr(_ngram_expr(2, text_col))).alias("bigram")
    ).select(
        "doc_id",
        F.split("bigram", " ").getItem(0).alias("a"),
        F.split("bigram", " ").getItem(1).alias("b"),
    )
    cnt_ab = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ctx = cnt_ab.groupBy("a").agg(F.sum("c_ab").alias("c_ctx"))
    vocab = _doc_tokens(docs, text_col).agg(
        F.countDistinct("tok").alias("v")
    )
    lp = F.round(
        F.log10(
            (F.col("c_ab") + F.lit(1.0)) / (F.col("c_ctx") + F.col("v"))
        ),
        _LP_DECIMALS,
    ).cast(_LP_TYPE)
    scored = (
        big.join(F.broadcast(cnt_ab), ["a", "b"])
        .join(F.broadcast(ctx), "a")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.round(
            F.sum("lp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
    )
