"""Text-analysis operators over a ``documents(doc_id, text, lang, source,
n_chars)`` table — the LLM-data-pipeline surface (charter §2.11).

All operators are pure column expressions (JVM-side, whole-stage codegen);
tokenization is a regex split, no Python UDFs. Each has a DuckDB oracle in
the query registry built from the SAME constants below, so semantics are
pinned cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from solana_etl_spark.functions.hashing import hash32, perm_hash, MINHASH_PERMS
from solana_etl_spark.functions.sqltext import ident

# fixed stopword lists for the language-ID heuristic (order = tie preference)
LANG_STOPWORDS: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "a", "of", "and", "to", "in")),
    ("es", ("el", "la", "de", "que", "los", "una")),
    ("de", ("der", "die", "das", "und", "ist", "ein")),
    ("fr", ("le", "les", "des", "et", "une", "est")),
]

EN_STOPWORDS = LANG_STOPWORDS[0][1]

NGRAM_N = 3  # char n-grams for fingerprint / jaccard
FINGERPRINT_K = 4  # k-min sketch size


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased, trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def char_ngrams(text_col: str, n: int = NGRAM_N) -> Column:
    """Distinct character n-grams of lowercased, trimmed text. Expressed as a
    SQL string because ``substring``'s position must be an expression (the
    DataFrame API only accepts literals).

    The normalized string is bound ONCE per row via a one-element
    ``transform(array(s), v -> ...)`` wrapper: higher-order functions are
    interpreted (no codegen, no common-subexpression elimination inside the
    lambda body), so the naive form re-evaluates ``lower(trim(text))`` at
    every gram position — O(len²) characters per document. Binding drops it
    to one normalization pass plus O(len) substrings (r9, guide §1.2 "make
    the code inside each stage fast")."""
    s = f"lower(trim({ident(text_col)}))"
    return F.array_distinct(
        F.expr(
            f"element_at(transform(array({s}), _cg_s ->"
            f" transform(sequence(1, greatest(length(_cg_s) - {n - 1}, 0)),"
            f" i -> substring(_cg_s, i, {n}))), 1)"
        )
    )


def quality_predicate() -> Column:
    """The quality gate as a bare per-row boolean expression — usable as a
    plain ``filter`` (fuses into the scan; no join). Identical semantics
    to ``quality_score().is_quality``."""
    toks = tokens(F.col("text"))
    s = F.trim(F.col("text"))
    n_chars = F.length(s)
    n_punct = n_chars - F.length(F.regexp_replace(s, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(s, r"[0-9]", ""))
    punct_ratio = F.round(n_punct / n_chars, 6)
    digit_ratio = F.round(n_digit / n_chars, 6)
    return (
        (F.size(toks) >= 10) & (punct_ratio <= 0.2) & (digit_ratio <= 0.3)
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Length / punctuation / digit / stopword heuristics with a boolean
    quality flag (typical pre-training quality filter shape)."""
    s = F.trim(F.col("text"))
    toks = tokens(F.col("text"))
    n_chars = F.length(s)
    n_punct = n_chars - F.length(F.regexp_replace(s, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(s, r"[0-9]", ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    punct_ratio = F.round(n_punct / n_chars, 6)
    digit_ratio = F.round(n_digit / n_chars, 6)
    stop_ratio = F.round(stop_hits / F.size(toks), 6)
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars_trim"),
        F.size(toks).alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (
            (F.size(toks) >= 10)
            & (punct_ratio <= 0.2)
            & (digit_ratio <= 0.3)
        ).alias("is_quality"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-hit language ID; ties break by list order, zero hits → unk."""
    toks = tokens(F.col("text"))
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(*words))).alias(f"score_{lang}")
        for lang, words in LANG_STOPWORDS
    ]
    scored = documents.select("doc_id", "lang", *scores)
    best = F.greatest(*[F.col(f"score_{lang}") for lang, _ in LANG_STOPWORDS])
    pred = F.lit("unk")
    # build reversed so earlier languages win ties
    for lang, _ in reversed(LANG_STOPWORDS):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select("doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang"))


# BPE-ish pre-tokenization pattern (GPT-2 style, ASCII simplification kept
# identical across Java/RE2 regex engines): contractions, space-prefixed
# letter runs, space-prefixed digit runs, punctuation runs
BPE_PATTERN = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"

WINNOW_K = 5  # char-gram length for winnowing
WINNOW_W = 4  # window of consecutive gram hashes


def token_report(documents: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token statistics in ONE per-row projection
    (same scan, zero shuffle): whitespace token count, distinct count and
    mean length, the BPE-ish pre-token count, and BPE tokens per word —
    the cost estimator every training-data pipeline runs before a real
    tokenizer pass."""
    toks = tokens(F.col("text"))
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.round(total_len / F.size(toks), 6).alias("avg_token_len"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.round(F.size(bpe) / F.size(toks), 6).alias("bpe_per_word"),
    )


def winnow_fingerprint(documents: DataFrame) -> DataFrame:
    """Winnowing fingerprint (Schleimer/Wilkerson/Aiken, MOSS): rolling
    k-gram hashes, minimum per sliding window of w, distinct minima as the
    document's fingerprint set. Robust to local edits; the standard
    plagiarism/near-dup sketch."""
    s = "lower(trim(text))"
    a, b = MINHASH_PERMS[1]
    # normalized text bound once per row (see char_ngrams): the naive form
    # re-normalizes the whole document for every k-gram position
    hashes = (
        f"element_at(transform(array({s}), _wf_s ->"
        f" transform(sequence(1, greatest(length(_wf_s) - {WINNOW_K - 1}, 1)),"
        f" i -> (cast(conv(substring(md5(substring(_wf_s, i, {WINNOW_K})), 1, 8), 16, 10) as bigint)"
        f" * {a}L + {b}L) % 4294967291L)), 1)"
    )
    # materialize the hash sequence once (`_hs` referenced twice below keeps
    # the projection boundary — otherwise the md5 chain re-evaluates per
    # window)
    with_hashes = documents.select("doc_id", F.expr(hashes).alias("_hs"))
    mins = (
        f"transform(sequence(1, greatest(size(_hs) - {WINNOW_W - 1}, 1)),"
        f" j -> array_min(slice(_hs, j, {WINNOW_W})))"
    )
    return with_hashes.select(
        "doc_id",
        F.expr(
            f"concat_ws(',', transform(array_sort(array_distinct({mins})),"
            " h -> cast(h as string)))"
        ).alias("winnow_fp"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """k-min-sketch document fingerprint: the FINGERPRINT_K smallest distinct
    char-ngram hashes, comma-joined (stable, order-insensitive to text
    permutation-free edits)."""
    # same single-binding trick as char_ngrams (the naive form re-normalizes
    # the text at every gram position — HOF lambdas are interpreted)
    grams = char_ngrams("text", NGRAM_N)
    a, b = MINHASH_PERMS[0]
    hashes = F.transform(grams, lambda g: perm_hash(hash32(g), a, b))
    kmin = F.slice(F.array_sort(hashes), 1, FINGERPRINT_K)
    return documents.select(
        "doc_id",
        F.concat_ws(",", F.transform(kmin, lambda h: h.cast("string"))).alias(
            "fingerprint"
        ),
    )


# --- PII / URL redaction (charter text-analysis family) --------------------
# Patterns live in the Java-regex ∩ RE2 common subset (char classes, bounded
# repetition, \b) so Spark's regexp_replace and DuckDB's RE2 produce
# identical matches — no lookaround, no backreferences.
PII_URL_RE = r"https?://[^\s]+"
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact URLs, emails, and IPv4 addresses; count each category.

    The cleaning step a training-data pipeline runs before tokenization.
    Redaction order is fixed (URL → email → IP) because a URL can embed an
    email-shaped userinfo part; both engines apply the same order so the
    oracle is value-exact. Pure per-row regexp expressions — zero shuffle,
    whole-stage codegen'd, linear scan at any scale.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_URL_RE, "<URL>"), PII_EMAIL_RE, "<EMAIL>"
        ),
        PII_IP_RE,
        "<IP>",
    )
    return documents.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IP_RE)).cast("long").alias("n_ips"),
        redacted.alias("text_redacted"),
    )


BOILERPLATE_N = 8  # word n-gram span for cross-document repetition
BOILERPLATE_MIN_DOCS = 3


def word_ngrams(n: int = BOILERPLATE_N) -> Column:
    """Distinct word n-grams (space-joined) of the whitespace tokens."""
    return F.array_distinct(F.expr(_ngram_expr(n)))


def _toks_expr(col: str = "text") -> str:
    """:func:`tokens` of column ``col`` as Spark SQL expression text."""
    return rf"split(lower(trim({ident(col)})), '\\s+')"


_TOKS_EXPR = _toks_expr()


def _ngram_expr(n: int, col: str = "text") -> str:
    """Positional word n-grams as a SQL expression; empty array for docs
    shorter than n (guarded — Spark's sequence(1, 0) is DESCENDING [1, 0],
    not empty). ``col`` is the NAME of the text column the grams read."""
    toks = _toks_expr(col)
    # bind the token array once per row (HOFs are interpreted; the naive
    # form re-runs the split for every gram position — see char_ngrams)
    return (
        f"element_at(transform(array({toks}), _ng_t -> "
        f"CASE WHEN size(_ng_t) >= {n} THEN "
        f"transform(sequence(1, size(_ng_t) - {n - 1}), "
        f"i -> array_join(slice(_ng_t, i, {n}), ' ')) "
        "ELSE array() END), 1)"
    )


def cross_doc_ngrams(
    documents: DataFrame,
    n: int = BOILERPLATE_N,
    min_docs: int = BOILERPLATE_MIN_DOCS,
) -> DataFrame:
    """Boilerplate detection (the cross-document half of C4-style line/span
    dedup): word n-grams appearing in >= ``min_docs`` DISTINCT documents,
    with their document counts.

    One explode of per-doc distinct grams (so a gram repeated within one
    doc counts once) + one count shuffle keyed by the gram — map-side
    partial aggregation collapses hot boilerplate before the exchange.
    """
    grams = documents.select(
        "doc_id", F.explode(word_ngrams(n)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate_ngrams(
    documents: DataFrame,
    n: int = BOILERPLATE_N,
    min_docs: int = BOILERPLATE_MIN_DOCS,
) -> DataFrame:
    """Remove every token covered by a cross-document boilerplate n-gram
    (any occurrence, any overlap), keeping the rest in order — the removal
    half of the C4 step.

    Shape: boilerplate set from :func:`cross_doc_ngrams` (small by
    definition — it's the repeated content) broadcast-joined to each doc's
    positional grams; covered token positions derive from the matched gram
    starts; the doc rebuilds from its surviving tokens. The corpus is
    scanned twice (detect, strip), shuffled never (the only exchange is the
    tiny gram count)."""
    boiler = cross_doc_ngrams(documents, n, min_docs).select("gram")
    pos_grams = documents.select(
        "doc_id",
        F.posexplode(F.expr(_ngram_expr(n))).alias("start", "gram"),
    )
    hits = (
        pos_grams.join(F.broadcast(boiler), "gram")
        .groupBy("doc_id")
        .agg(F.collect_set("start").alias("_starts"))
    )
    toks = tokens(F.col("text"))
    kept = F.expr(
        f"filter(transform({_TOKS_EXPR}, (t, i) -> "
        f"CASE WHEN exists(_starts, s -> i >= s AND i < s + {n}) "
        "THEN NULL ELSE t END), t -> t IS NOT NULL)"
    )
    return (
        documents.join(hits, "doc_id", "left")
        .withColumn("_starts", F.coalesce("_starts", F.array().cast("array<int>")))
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(kept).alias("n_kept"),
            F.array_join(kept, " ").alias("text_stripped"),
        )
    )


# Gopher-style repetition thresholds (Rae et al. 2021, Table A1 family):
# a doc is flagged when its most common 2-gram covers >20% of characters,
# duplicated 5-grams cover >15%, or >80% of tokens are repeats.
REP_TOP_N = 2
REP_DUP_N = 5
REP_TOP_FRAC = 0.20
REP_DUP_FRAC = 0.15
REP_TOKEN_FRAC = 0.80


def _top_run(sorted_grams: Column) -> Column:
    """(c, g) = (max occurrence count, lexicographically smallest argmax
    gram) in ONE O(n) pass over the SORTED gram array: equal grams are
    adjacent, so occurrence counting is run-length tracking, and the first
    run to reach the maximum is the smallest gram (sorted order) — strict
    ``>`` on the update keeps it. State is O(1): (prev, run, c, g)."""
    seed = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("c"),
        F.lit("").alias("g"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["c"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["c"]).alias("c"),
            F.when(better, x).otherwise(acc["g"]).alias("g"),
        )

    return F.aggregate(
        sorted_grams,
        seed,
        step,
        lambda acc: F.struct(acc["c"].alias("c"), acc["g"].alias("g")),
    )


def _dup_run_mass(sorted_grams: Column) -> Column:
    """Characters inside grams occurring >= 2 times: one O(n) run-length
    pass over the SORTED gram array. A gram with total count k >= 2
    contributes k*length(gram): 2x at the run's second element, 1x for
    each element after."""
    seed = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("long").alias("m"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        add = (
            F.when(run == 2, F.lit(2) * F.length(x))
            .when(run > 2, F.length(x))
            .otherwise(F.lit(0))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            (acc["m"] + add.cast("long")).alias("m"),
        )

    return F.aggregate(sorted_grams, seed, step, lambda acc: acc["m"])


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Intra-document repetition signals, the Gopher quality-filter family
    (Rae et al. 2021 §A1.1) adapted to unstructured text (this corpus has
    no line/paragraph breaks, so the line-level rules are expressed over
    word n-grams):

    * ``dup_token_frac`` — fraction of tokens that are repeats
    * ``top_2gram_char_frac`` — characters covered by the most frequent
      word 2-gram (lexicographically smallest argmax → deterministic)
    * ``dup_5gram_char_frac`` — characters inside 5-grams occurring twice+
    * ``is_repetitive`` — any signal past the Gopher-style thresholds

    Pure column expressions, zero shuffle. Each histogram statistic is a
    single sort + O(n) run-length fold per row (higher-order functions run
    interpreted, so the naive O(distinct x n) count-by-filter form is
    ~50x slower — measured 38 ms/doc at ~300 chars). Compute-heavy
    per-row work → repartition to core count first (tiny parquet inputs
    otherwise pin one task)."""
    from solana_etl_spark.functions.parallelism import (
        ensure_compute_parallelism,
    )

    toks = tokens(F.col("text"))
    n_chars = F.greatest(F.length(F.trim(F.col("text"))), F.lit(1))
    top = _top_run(F.array_sort(F.expr(_ngram_expr(REP_TOP_N))))
    dup_mass = _dup_run_mass(F.array_sort(F.expr(_ngram_expr(REP_DUP_N))))
    n_toks = F.size(toks)
    documents = ensure_compute_parallelism(documents)
    dup_token_frac = F.round(
        (n_toks - F.size(F.array_distinct(toks)))
        / F.greatest(n_toks, F.lit(1)),
        6,
    )
    top_frac = F.round(top["c"] * F.length(top["g"]) / n_chars, 6)
    dup_frac = F.round(dup_mass / n_chars, 6)
    return documents.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        dup_token_frac.alias("dup_token_frac"),
        top["g"].alias("top_2gram"),
        top_frac.alias("top_2gram_char_frac"),
        dup_frac.alias("dup_5gram_char_frac"),
        (
            (top_frac > REP_TOP_FRAC)
            | (dup_frac > REP_DUP_FRAC)
            | (dup_token_frac > REP_TOKEN_FRAC)
        ).alias("is_repetitive"),
    )


def repetitive_predicate() -> Column:
    """The Gopher repetition flag as a bare per-row boolean — usable as a
    plain ``filter`` (no join). Identical semantics to
    ``repetition_stats().is_repetitive``."""
    toks = tokens(F.col("text"))
    n_chars = F.greatest(F.length(F.trim(F.col("text"))), F.lit(1))
    top = _top_run(F.array_sort(F.expr(_ngram_expr(REP_TOP_N))))
    dup_mass = _dup_run_mass(F.array_sort(F.expr(_ngram_expr(REP_DUP_N))))
    n_toks = F.size(toks)
    dup_token_frac = F.round(
        (n_toks - F.size(F.array_distinct(toks)))
        / F.greatest(n_toks, F.lit(1)),
        6,
    )
    top_frac = F.round(top["c"] * F.length(top["g"]) / n_chars, 6)
    dup_frac = F.round(dup_mass / n_chars, 6)
    return (
        (top_frac > REP_TOP_FRAC)
        | (dup_frac > REP_DUP_FRAC)
        | (dup_token_frac > REP_TOKEN_FRAC)
    )


# ---------------------------------------------------------------------------
# line-structure stats + character entropy (C4/FineWeb-style line filters)
# ---------------------------------------------------------------------------

BULLET_CHARS = ("-", "*", "•")  # -, *, •
TERMINAL_PUNCT = (".", "!", "?", '"')


def structure_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document LINE-structure signals — the C4/FineWeb line-level
    filter features (terminal-punctuation lines, bullet lists, blank
    density) that token-level quality scores can't see:

    ``n_lines`` (newline-split count), ``blank_frac`` (whitespace-only
    lines), and — over NON-blank lines — ``bullet_frac`` (first non-space
    char is a bullet) and ``punct_line_frac`` (last non-space char is
    terminal punctuation). Ratios round at 9 (the cross-engine float
    boundary). Pure per-row array expressions: zero shuffle, codegen'd
    scan — the cheapest possible 100 TB shape."""
    lines = F.split(F.col(text_col), "\n")
    nonblank = F.filter(lines, lambda l: F.trim(l) != "")
    n_nonblank = F.greatest(F.size(nonblank), F.lit(1))
    bullet = F.filter(
        nonblank,
        lambda l: F.substring(F.ltrim(l), 1, 1).isin(*BULLET_CHARS),
    )
    punct = F.filter(
        nonblank,
        lambda l: F.substring(F.rtrim(l), -1, 1).isin(*TERMINAL_PUNCT),
    )
    return documents.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.round(
            (F.size(lines) - F.size(nonblank))
            / F.greatest(F.size(lines), F.lit(1)),
            9,
        ).alias("blank_frac"),
        F.round(F.size(bullet) / n_nonblank, 9).alias("bullet_frac"),
        F.round(F.size(punct) / n_nonblank, 9).alias("punct_line_frac"),
    )


# Unicode script classes for script-mix profiling. Literal \uXXXX ranges
# inside character classes parse identically in Java regex (Spark) and RE2
# (DuckDB), so the counts are cross-engine exact.
SCRIPT_CLASSES = {
    "latin": "[A-Za-z]",
    "digit": "[0-9]",
    "cjk": "[\\u4e00-\\u9fff\\u3040-\\u30ff\\uac00-\\ud7af]",
    "cyrillic": "[\\u0400-\\u04ff]",
    "arabic": "[\\u0600-\\u06ff]",
    # explicit class, NOT \s: Java \s includes \x0B (vertical tab), RE2 \s
    # does not — the literal class is identical in both engines
    "whitespace": "[ \\t\\n\\x0B\\f\\r]",
}


def script_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode script mix — the multilingual-curation signal
    lang-ID heuristics sit on top of: the fraction of characters in each
    major script class (Latin, digits, CJK, Cyrillic, Arabic, whitespace)
    plus ``other_frac`` for everything else (emoji, symbols, control
    bytes — a high value is the mojibake/binary-spill flag). A corpus
    card's script histogram and the router for script-specific cleaning
    both read this table.

    Pure per-row ``regexp_count`` projections over one scan — zero
    shuffle, codegen'd, the cheapest 100 TB shape; fractions round at 9
    (the cross-engine float boundary) against the true char count (docs
    with no characters report zeros)."""
    n = F.length(F.col(text_col))
    denom = F.greatest(n, F.lit(1))
    counts = {
        name: F.regexp_count(F.col(text_col), F.lit(cls + ""))
        for name, cls in SCRIPT_CLASSES.items()
    }
    other = n - sum(counts.values())
    return documents.select(
        "doc_id",
        n.cast("long").alias("n_chars_text"),
        *[
            F.round(c / denom, 9).alias(f"{name}_frac")
            for name, c in counts.items()
        ],
        F.round(other / denom, 9).alias("other_frac"),
    )


_ENT_TYPE = "decimal(28,9)"

# log10(2) as a shared LITERAL: both engines parse the same double, so the
# nat→bit conversion is bit-identical (their log2() builtins are not)
LOG10_2 = 0.30102999566398119802


def char_entropy(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-level Shannon entropy in bits — the cheap
    gibberish/boilerplate signal (natural text sits ~4 bits/char; key
    dumps, repeated fills, and encoded blobs sit far off it).

    Exact and cross-engine reproducible with the lm.py float discipline:
    each character's term p·log10(p) is computed in doubles, rounded at 9
    decimals, and summed as exact DECIMAL; bits = the decimal sum divided
    by a LITERAL log10(2) (both engines parse the identical double —
    engine log2 implementations drift at the last ulp, measured at
    sf0.1, so log2 never appears). One explode + one (doc_id, char)
    count with map-side combine: shuffle volume is rows ×
    distinct-chars-per-doc (alphabet-bounded), never rows × characters."""
    chars = (
        documents.filter(F.length(text_col) > 0)
        .select(
            "doc_id",
            F.length(text_col).alias("n"),
            F.col(text_col).alias("_t"),
            F.explode(F.sequence(F.lit(1), F.length(text_col))).alias("i"),
        )
        # substring fuses into the same codegen stage as the Generate, so
        # the carried text column never materializes per character row
        .select("doc_id", "n", F.expr("substring(_t, i, 1)").alias("ch"))
    )
    counts = chars.groupBy("doc_id", "n", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    p = F.col("c") / F.col("n")
    term = F.round(p * F.round(F.log10(p), 9), 9).cast(_ENT_TYPE)
    return counts.select("doc_id", "n", term.alias("t")).groupBy("doc_id").agg(
        F.max("n").alias("n_chars"),
        F.round(
            -F.sum("t").cast("double") / F.lit(LOG10_2), 6
        ).alias("entropy_bits"),
    )


# --- collocation mining (PMI) ----------------------------------------------

COLLOC_MIN_COUNT = 5
COLLOC_K = 50


def collocations(
    documents: DataFrame, min_count: int = COLLOC_MIN_COUNT, k: int = COLLOC_K
) -> DataFrame:
    """Bigram collocation mining by pointwise mutual information:
    PMI(a,b) = log10( p(ab) / (p(a)·p(b)) ) over adjacent-token bigrams —
    the classic corpus-analysis signal for multiword expressions
    (tokenizer-merge seeding, stopword discovery, phrase detection).
    Top-``k`` bigrams with ≥ ``min_count`` occurrences.

    Determinism discipline: the ranking orders by the RAW probability
    ratio — pure integer-count arithmetic in doubles, bit-identical
    cross-engine — never by the log (engine log10 drifts in the last ulp,
    which would reorder near-ties); the log is applied only to the
    emitted score, rounded at 6. Shape: one token count + one bigram
    count (both map-side combined), constituent lookups against the
    vocab-bounded broadcast unigram table, 1-row totals as broadcast
    scalars, TakeOrdered top-k."""
    toks = documents.select(F.explode(tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = documents.agg(
        F.sum(F.greatest(F.size(tokens(F.col("text"))) - 1, F.lit(0))).alias(
            "b_total"
        ),
        F.sum(
            F.size(F.filter(tokens(F.col("text")), lambda t: t != ""))
        ).alias("n_total"),
    )
    bi = (
        documents.select(F.explode(F.expr(_ngram_expr(2))).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    parts = F.split(F.col("bigram"), " ")
    joined = (
        bi.withColumn("_a", parts.getItem(0))
        .withColumn("_b", parts.getItem(1))
        .join(
            F.broadcast(uni.select(F.col("tok").alias("_a"), F.col("c").alias("c_a"))),
            "_a",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("_b"), F.col("c").alias("c_b"))),
            "_b",
        )
        .crossJoin(F.broadcast(totals))
    )
    ratio = (F.col("c_ab").cast("double") / F.col("b_total")) / (
        (F.col("c_a").cast("double") / F.col("n_total"))
        * (F.col("c_b").cast("double") / F.col("n_total"))
    )
    return (
        joined.select(
            "bigram",
            "c_ab",
            ratio.alias("_ratio"),
        )
        .orderBy(F.desc("_ratio"), F.asc("bigram"))
        .limit(k)
        .select("bigram", "c_ab", F.round(F.log10("_ratio"), 6).alias("pmi"))
    )


def chunk_token_windows(
    docs: DataFrame,
    budget: int = 128,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding token-window chunking — the RAG/embedding-ingest step that
    splits each document into overlapping fixed-budget chunks:
    (id, chunk_id, start_token, n_tokens, chunk_text). Chunk k starts at
    token k·(budget − overlap) (0-based) and takes up to ``budget``
    whitespace tokens; windows start while start < n_tokens, so the last
    chunk may be short and every token belongs to ≥ 1 chunk. Pure column
    expressions (sequence → explode → slice/array_join): zero shuffles,
    zero Python — chunking fuses into whatever scan feeds it, and the
    explode multiplies rows by ~n_tokens/step, never bytes by more than
    (budget+overlap)/budget. NULL text → no chunks (filter upstream to
    keep them); empty text → no chunks."""
    if overlap >= budget:
        raise ValueError(
            f"overlap ({overlap}) must be < budget ({budget}): the window"
            " start step is budget - overlap"
        )
    step = budget - overlap
    toks = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    n = F.size(toks)
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            ((n - 1) - F.pmod(n - 1, F.lit(step))) / step, F.lit(0)
        ).cast("int"),
    )
    staged = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        toks.alias("_toks"),
        n.alias("_n"),
        F.explode(starts).alias("chunk_id"),
    ).filter(F.col("_n") > 0)
    start_token = (F.col("chunk_id") * step).cast("long")
    take = F.least(F.lit(budget), F.col("_n") - start_token).cast("int")
    return staged.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start_token.alias("start_token"),
        take.cast("long").alias("n_tokens"),
        F.array_join(
            F.slice("_toks", (start_token + 1).cast("int"), take), " "
        ).alias("chunk_text"),
    )
