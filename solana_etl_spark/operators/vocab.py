"""BPE vocabulary induction: the tokenizer-training pass of an LLM data
pipeline, run where the data is.

Training a byte-pair-encoding vocabulary over a 100 TB corpus cannot
collect text to a driver. :func:`train_bpe_merges` has two engines
behind one distributed scan:

1. one corpus scan reduces the text to a (word, freq) table — typically
   10^6-10^8 rows regardless of corpus size (Zipf);
2. if that table fits under ``DRIVER_WORD_TABLE_CAP`` the classic merge
   loop runs on the driver (operators/vocab_driver.py, the
   SentencePiece/HF trainer shape);
3. otherwise each merge round is ONE shuffle: explode each word's
   adjacent symbol pairs weighted by freq, partial-agg'd pair counts,
   argmax to the driver (a single tiny row — the merge decision is the
   only driver state, as in fairseq/HF tokenizer trainers), and the
   chosen merge is applied to every word with a pure column expression —
   a greedy left-to-right fold (``aggregate``) over the symbol array. No
   Python UDF anywhere: rounds stay in codegen.

Ties on pair count break on (pair_a, pair_b) lexical order, so the merge
sequence is deterministic across partitionings, engines and both loops.

The reference has no text surface at all; this is charter LLM-pipeline
machinery (SURVEY §2.11 family: text analysis / tokenization).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solana_etl_spark.functions.sqltext import string_lit

EOW = "</w>"  # end-of-word sentinel, as in the original BPE formulation


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, freq): the one full scan; everything after runs on
    this (much smaller) table."""
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word: Column, append_eow: bool) -> Column:
    chars = F.split(word, "")
    if append_eow:
        chars = F.concat(chars, F.array(F.lit(EOW)))
    return chars


def merge_pair_expr(
    symbols: Column, a: str, b: str, merged: str | None = None
) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) -> ``merged``
    (default a||b), as a pure fold: acc = (out, pending); pending==a and
    next==b emits the merged symbol, else pending is flushed. Equivalent
    to the classic BPE apply. ``merged`` exists for symbol alphabets
    where plain concatenation is wrong (WordPiece strips the ``##``
    continuation prefix off the right piece)."""
    if merged is None:
        merged = a + b
    return F.aggregate(
        symbols,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pending"),
        ),
        lambda acc, s: F.when(
            acc["pending"].isNull(),
            F.struct(acc["out"].alias("out"), s.alias("pending")),
        )
        .when(
            (acc["pending"] == F.lit(a)) & (s == F.lit(b)),
            F.struct(
                F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                F.lit(None).cast("string").alias("pending"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(acc["pending"])).alias("out"),
                s.alias("pending"),
            )
        ),
        lambda acc: F.when(
            acc["pending"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["pending"]))),
    )


def merge_pair_sql(
    symbols_expr: str, a: str, b: str, merged: str | None = None
) -> str:
    """:func:`merge_pair_expr` as SQL text (r10, guide §7.3): the Column
    form costs ~0.13 s of py4j round trips per merge in the distributed
    train loops (~1.5 s of a 12-merge round set), where the fold chain
    can be composed as nested TEXT and parsed once. Identical fold —
    ``named_struct`` instead of aliased ``struct`` is the same tree
    (Catalyst canonicalizes struct creation; r9 saw the same
    pretty-print drift on the simhash SQL strings)."""
    if merged is None:
        merged = a + b
    la, lb, lm = string_lit(a), string_lit(b), string_lit(merged)
    return (
        f"aggregate({symbols_expr},"
        " named_struct('out', cast(array() as array<string>),"
        " 'pending', cast(null as string)),"
        " (acc, s) -> CASE"
        " WHEN acc.pending IS NULL THEN"
        " named_struct('out', acc.out, 'pending', s)"
        f" WHEN acc.pending = {la} AND s = {lb} THEN"
        f" named_struct('out', concat(acc.out, array({lm})),"
        " 'pending', cast(null as string))"
        " ELSE named_struct('out', concat(acc.out, array(acc.pending)),"
        " 'pending', s) END,"
        " acc -> CASE WHEN acc.pending IS NULL THEN acc.out"
        " ELSE concat(acc.out, array(acc.pending)) END)"
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    n = F.size("symbols")
    pairs = F.arrays_zip(
        F.slice("symbols", 1, n - 1).alias("a"),
        F.slice("symbols", 2, n - 1).alias("b"),
    )
    return (
        words.filter(n >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 16,
    append_eow: bool = True,
    batch_size: int = 1,
    stats: dict | None = None,
    strategy: str = "auto",
    driver_word_cap: int | None = None,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges over the corpus. Returns the ordered
    merge list — the vocabulary artifact a tokenizer ships with.

    ``strategy`` picks the training engine for the merge loop; the
    corpus scan that builds the (word, freq) table is distributed in
    both modes, and both learn the bit-identical merge list:

    - ``"auto"`` (default): collect the word table under
      ``driver_word_cap`` (LIMIT cap+1, so an over-cap table never
      materializes on the driver) and run classic greedy merges
      in-process — the SentencePiece/HF trainer shape, exploiting that
      the word table is Zipf-bounded (the operators/lm.py argument):
      ~10^6-10^8 rows at ANY corpus size. Measured on the 50k-doc
      scaling corpus: 512 merges in ~3 s where the distributed loop
      extrapolates to ~258 s — this is the production 32k-merge path.
      Falls back to the distributed rounds past the cap.
    - ``"distributed"``: the classic round loop, one merge per round
      (pair-count shuffle → argmax row → fold apply → localCheckpoint).
      It is the over-cap fallback and the bench's equality anchor.

    ``batch_size`` must be 1 (one merge per round). The parameter
    remains only because existing callers (bench.py's classic anchor)
    pass ``batch_size=1``; any other value raises.

    Distributed measurements at sf0.01 (localCheckpoint lineage
    truncation): ~0.3 s/round, flat with round count; the 32-merge
    run's first 16 merges equal the 16-merge run's."""
    from solana_etl_spark.operators.vocab_driver import (
        DRIVER_WORD_TABLE_CAP,
        bpe_merges_from_word_freqs,
    )

    if driver_word_cap is None:
        driver_word_cap = DRIVER_WORD_TABLE_CAP
    if strategy not in ("auto", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if batch_size != 1:
        raise ValueError(
            f"batch_size must be 1 (one merge per round), got {batch_size!r}"
        )
    words_tbl = word_freq_table(docs, text_col)
    if strategy == "auto":
        rows = words_tbl.limit(driver_word_cap + 1).collect()
        if len(rows) <= driver_word_cap:
            if stats is not None:
                stats["strategy"] = "driver"
                stats["words_collected"] = len(rows)
            return bpe_merges_from_word_freqs(
                ((r["word"], r["freq"]) for r in rows),
                n_merges,
                append_eow,
            )
    if stats is not None:
        stats["strategy"] = "distributed"
    words = words_tbl.withColumn(
        "symbols", _initial_symbols(F.col("word"), append_eow)
    )
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        top = (
            _pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .first()
        )
        if top is None:
            break
        if stats is not None:
            stats["rounds"] = stats.get("rounds", 0) + 1
        merges.append((top["a"], top["b"]))
        # localCheckpoint, NOT persist+count: a persist chain keeps every
        # prior round's (large, interpreted) merge-fold plan as an
        # un-executed child, and Catalyst re-canonicalizes that
        # O(rounds)-deep tree per cache lookup — measured on the WordPiece
        # twin of this loop (operators/wordpiece.py): 24 rounds blew past
        # 15 min with persist+count vs seconds per round truncated. At the
        # default 16 merges the persist chain was still fine (~2 s/round),
        # but the loop is O(rounds²) either way — truncation makes it
        # linear. Same learned merges: checkpointing changes lineage only.
        # The fold is SQL text, one parse per round (r10, guide §7.3).
        words = words.withColumn(
            "symbols", F.expr(merge_pair_sql("symbols", top["a"], top["b"]))
        ).localCheckpoint()
    return merges


def apply_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    append_eow: bool = True,
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Segment each document with a learned merge list: per-word symbol
    fold per merge, chained as nested column expressions (zero Python,
    zero shuffle — but each fold runs on Catalyst's interpreted
    higher-order-function path). Kept as the semantic reference; for
    actual corpus encoding use :func:`apply_bpe_replace`, which produces
    identical output (property-tested) and measured 27× faster at sf0.1
    (18.8 s → 0.69 s, 12 merges)."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
    )

    def segment(word: Column) -> Column:
        syms = _initial_symbols(word, append_eow)
        for a, b in merges:
            syms = merge_pair_expr(syms, a, b)
        return syms

    return docs.withColumn(
        out_col, F.flatten(F.transform(words, segment))
    )


SEP = "\x1f"  # unit separator: the one byte the symbol stream may not contain


def apply_bpe_replace(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    append_eow: bool = True,
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Codegen BPE encode: identical output to :func:`apply_bpe`, built
    from literal string `replace` calls instead of nested `aggregate` folds.

    Representation: the document becomes one symbol stream where every
    within-word symbol boundary is a DOUBLE separator and word gaps are a
    TRIPLE — ``␟c␟␟h␟␟a␟␟r␟␟</w>␟␟␟n␟␟e␟␟x␟␟t␟␟</w>␟␟`` — and each learned
    merge ``(a, b)`` is one literal ``replace(s, ␟a␟␟b␟ → ␟ab␟)``.

    Why DOUBLE separators: Java's replace is left-to-right non-overlapping
    — a match consumes its whole pattern, so with single-SEP boundaries
    (``␟a␟b␟`` → ``␟ab␟``) consecutive occurrences SHARE the boundary SEP
    and every second adjacent occurrence is left unmerged ("abab" →
    [ab, a, b, </w>] instead of the fold's [ab, ab, </w>]). With double
    boundaries the pattern ``␟a␟␟b␟`` consumes ONE sep from each bracket
    and the replacement ``␟ab␟`` restores one on each side, so the
    double-boundary invariant is preserved through every merge and the
    non-overlapping scan is exactly the greedy left-to-right adjacent-pair
    merge of classic BPE — including ``a == b`` runs ("aaaaa" →
    [aa, aa, a], same as the fold). Word gaps keep a third SEP (matches
    never produce ``␟␟`` across a gap: a boundary match near a gap
    consumes one of its three SEPs and restores it), so no merge pattern
    can cross words. Token boundaries stay unambiguous because merged
    symbols are concatenations of input chars and can never contain SEP
    (input SEP bytes are stripped up front — the one contract this
    encoding adds).

    Why it exists: `apply_bpe`'s k nested folds run on Catalyst's
    interpreted higher-order-function path, per word; this is ONE
    whole-stage-codegen projection (k+2 StringReplace + 2 regexp) per
    document, no shuffle, no Python — the form to reach for when encoding
    a corpus with a shipped vocabulary. Measured at sf0.1 with 12 merges:
    18.8 s (fold) → 0.69 s (this), 27×. It is also expressible verbatim in
    ANSI SQL (`replace` chains), so the encoding itself can sit under a
    cross-engine value-hash oracle, which a Python-UDF tokenizer cannot.
    """
    base = F.trim(
        F.regexp_replace(
            F.replace(F.lower(F.col(text_col)), F.lit(SEP), F.lit("")),
            r"\s+",
            " ",
        )
    )
    # bracket: one SEP on EACH side of every char (incl. the sentinel
    # trailing space) — adjacent chars get a DOUBLE-SEP boundary — then
    # rewrite each spacer char's own bracket `␟ ␟` into the word-gap form
    # `␟</w>␟␟` (EOW symbol + one extra SEP, so the gap totals THREE SEPs
    # against the neighbors' brackets).
    # (?s) matters: Java's '.' skips U+2028/U+2029/U+0085 (line
    # terminators Java \s does NOT collapse), which would glue them onto
    # the preceding symbol and split from both apply_bpe and the DuckDB
    # oracle (RE2's '.' DOES match them); dotall makes '.' total on both
    # engines.
    gap = (SEP + EOW + SEP + SEP) if append_eow else SEP
    stream = F.regexp_replace(
        F.concat(base, F.lit(" ")), "(?s)(.)", SEP + "$1" + SEP
    )
    stream = F.replace(stream, F.lit(SEP + " " + SEP), F.lit(gap))
    for a, b in merges:
        stream = F.replace(
            stream,
            F.lit(SEP + a + SEP + SEP + b + SEP),
            F.lit(SEP + a + b + SEP),
        )
    toks = F.filter(F.split(stream, SEP), lambda x: x != "")
    return docs.withColumn(
        out_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("array<string>"))
        .when(base == "", F.array().cast("array<string>"))
        .otherwise(toks),
    )
