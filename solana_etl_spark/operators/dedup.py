"""Deduplication operators over the ``documents`` table (charter §2.11):
exact, MinHash+LSH, SimHash, and n-gram Jaccard.

Scale design (the point of each implementation):

* **exact** — one hash-aggregate on a 60-bit content hash; at 100 TB this is
  a single shuffle of (hash, doc_id) pairs, with map-side partial aggs.
* **minhash LSH** — signatures are per-row array expressions (no shuffle);
  candidate pairs come from a self-join on (band, band-signature) buckets,
  so the shuffle is keyed by bucket, never all-pairs. Bucket-key join is the
  standard sub-quadratic near-dup path.
* **simhash** — per-row 60-bit signature; pairs restricted to buckets that
  share one of SIMHASH_BANDS equal-width bit-bands (hamming-LSH), then exact
  hamming verification with ``bit_count(xor)``. Because
  SIMHASH_BANDS > SIMHASH_MAX_HAMMING, the band filter has perfect recall
  (pigeonhole: ≤3 differing bits cannot touch all 4 bands), so the banded
  plan returns EXACTLY the all-pairs answer while shuffling only bucket keys
  — bucket count grows with corpus size (2^15 values per band), unlike the
  r1 fixed-256-bucket scheme that degenerated to ~N²/256 at scale.
* **ngram jaccard** — inverted-index join (explode distinct ngrams, join on
  ngram), bounded per group; the classic exact-verification path after LSH.

All hashes are the cross-engine-deterministic family in functions/hashing.py,
so every operator has a value-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from solana_etl_spark.functions.hashing import (
    MINHASH_PERMS,
    PERM32_P,
    hash32_spark_sql,
    hash64,
    hash64_spark_sql,
)
from solana_etl_spark.functions.parallelism import ensure_compute_parallelism
from solana_etl_spark.operators.text import NGRAM_N, _toks_expr, char_ngrams, tokens

MINHASH_K = 8  # signature length
# rows per band: 4 bands of 2. Bands of a single hash degenerate on
# shared-vocabulary corpora (the global min shingle hash collides across
# most documents → near-all-pairs candidates); two rows per band keeps the
# candidate set sub-quadratic.
LSH_BAND_ROWS = 2
SIMHASH_BITS = 60  # 60-bit signature (15 hex chars of md5 per token hash)
SIMHASH_BANDS = 4  # bands of SIMHASH_BITS // SIMHASH_BANDS = 15 bits each
SIMHASH_MAX_HAMMING = 3  # < SIMHASH_BANDS → banded LSH is exact (pigeonhole)
JACCARD_THRESHOLD = 0.5


def normalized_text() -> Column:
    """Normalization for exact dedup: lowercase, trim, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")


def exact_dedup(documents: DataFrame) -> DataFrame:
    """One row per distinct normalized content: keeper doc_id (min), dup count.

    Spark shape: single hash aggregate; ``hash64`` keeps the shuffle narrow
    (16 bytes/row) regardless of document size.
    """
    return (
        documents.select(
            hash64(normalized_text()).alias("content_hash"), "doc_id"
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles_sql(text_col: str = "text") -> str:
    """Distinct 2-word shingles as Spark SQL expression text.

    The token array is bound ONCE per row via a one-element
    ``transform(array(w), v -> ...)`` wrapper: HOFs are interpreted, so the
    naive form re-runs the whole ``split(lower(trim(text)))`` for every
    shingle position (three times per element) — O(len·words) per document.
    Binding leaves one split plus O(words) array lookups (r9)."""
    w = _toks_expr(text_col)
    return (
        f"array_distinct(element_at(transform(array({w}), _ws_w ->"
        " transform(sequence(1, greatest(size(_ws_w) - 1, 1)),"
        " i -> concat_ws(' ', element_at(_ws_w, i),"
        " element_at(_ws_w, least(i + 1, size(_ws_w)))))), 1))"
    )


def word_shingles(text_col: str = "text") -> Column:
    """Distinct 2-word shingles (see :func:`word_shingles_sql`)."""
    return F.expr(word_shingles_sql(text_col))


def expand_sorted_pairs(postings: DataFrame, docs_col: str = "_docs") -> DataFrame:
    """Expand each row's sorted ``docs_col`` array into its ordered pairs
    ``(doc_a < doc_b)`` — the shared kernel of every bucket/posting-list pair
    emitter (minhash LSH, shingle/ngram Jaccard inverted index, prefix
    filter).

    Two codegen Generate ops (posexplode anchor, then explode of the suffix
    slice) instead of one interpreted flatten/transform lambda building the
    quadratic struct array per row: the pair stream is produced inside
    whole-stage codegen and never materialized as a per-posting array (hot
    buckets would otherwise allocate len²/2 structs in one interpreted eval).
    Measured at sf0.1 on ngram_jaccard_pairs (14M-row pair stream):
    4.30 → 4.06 s; the simhash band join saw 2.7× from the same
    interpreted→codegen move.
    """
    return postings.select(
        F.posexplode(docs_col).alias("i", "doc_a"), docs_col
    ).select(
        "doc_a",
        F.explode(
            F.slice(F.col(docs_col), F.col("i") + 2, F.size(docs_col))
        ).alias("doc_b"),
    )


def minhash_signatures(documents: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """doc_id + k minhash columns (h0..h{k-1}) over 2-word shingles —
    per-row expressions only, zero shuffle.

    Perf: the md5 token hash is materialized ONCE per shingle in its own
    projection (`_hashes` is referenced k times, so CollapseProject keeps the
    boundary); the k permutations are then plain int64 mul/add/mod passes.
    """
    hashes = (
        f"transform({word_shingles_sql()},"
        f" _mh_t -> {hash32_spark_sql('_mh_t')})"
    )
    with_hashes = ensure_compute_parallelism(documents).selectExpr(
        "doc_id", f"{hashes} AS _hashes"
    )

    def perm(i: int) -> str:
        a, b = MINHASH_PERMS[i]
        return f"array_min(transform(_hashes, h -> (h * {a} + {b}) % {PERM32_P}))"

    return with_hashes.selectExpr(
        "doc_id", *[f"{perm(i)} AS h{i}" for i in range(k)]
    )


def lsh_bands(
    documents: DataFrame, k: int = MINHASH_K, band_rows: int = LSH_BAND_ROWS
) -> DataFrame:
    """(doc_id, band, sig): one row per document per LSH band — the banded
    minhash signature. Per-row expressions only, zero shuffle.

    ``sig`` is the 8-byte :func:`hash64` of the band's minhash tuple, not
    the tuple's ~40-byte ``concat_ws`` string (r8): every downstream
    shuffle/window/index keys on sig, so at 10^11 docs × 8 bands the
    narrow key saves multi-TB of shuffle volume and shrinks the persisted
    band index ~4×. Hash collisions are harmless for cross-engine
    checking — the oracle applies the IDENTICAL md5-based hash
    (functions/hashing.hash64_sql), so any collision merges the same
    buckets on both engines — and semantically a 60-bit collision merges
    two buckets, which can only ADD a candidate pair (LSH candidates are
    verified or drop-on-candidate by policy anyway) at ~2^-60 rate."""
    sigs = minhash_signatures(documents, k)
    n_bands = k // band_rows

    def band_sig(b: int) -> str:
        tup = ", ".join(
            f"CAST(h{b * band_rows + r} AS STRING)" for r in range(band_rows)
        )
        return hash64_spark_sql(f"concat_ws(',', {tup})")

    structs = ", ".join(
        f"named_struct('band', {b}, 'sig', {band_sig(b)})"
        for b in range(n_bands)
    )
    return sigs.selectExpr(
        "doc_id", f"explode(array({structs})) AS bb"
    ).selectExpr("doc_id", "bb.band", "bb.sig")


def minhash_lsh_pairs(
    documents: DataFrame, k: int = MINHASH_K, band_rows: int = LSH_BAND_ROWS
) -> DataFrame:
    """Candidate near-duplicate pairs (doc_a < doc_b) that collide in ≥1 LSH
    band.

    Spark shape: ONE shuffle — group band rows by (band, sig), expand each
    bucket's sorted doc list into its pairs per-row, distinct. This computes
    the (md5-per-shingle) signatures once; the previous salted self-join
    formulation computed them twice (once per join side) and shuffled three
    times — measured 2.5× slower at sf0.1. A first-colliding-band emission
    variant (each posting row carrying the full n_bands×8-byte sig array so
    "no earlier band collides" is a per-pair filter, dropping the distinct)
    was tried in r9 and measured 2.3× SLOWER here (count 1.56→3.59 s at
    sf0.1): with 16 bands the per-posting sig payload is 16× wider than the
    doc_id, so the bucket shuffle grows far more than the (cheap, well
    map-side-combined) distinct over the few candidate pairs saves. The
    hamming-LSH family keeps first-band emission (`banded_hamming_pairs`)
    because its sig is ONE long, not an array. Bucket pair expansion is
    inherently quadratic in bucket size for ANY formulation that emits all
    pairs; for dedup at scale use :func:`lsh_duplicate_ids`, which is linear.
    """
    bucket_docs = (
        lsh_bands(documents, k, band_rows)
        .groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("_docs"))
        .filter(F.size("_docs") > 1)
    )
    return expand_sorted_pairs(bucket_docs).distinct()


def lsh_duplicate_ids(
    documents: DataFrame, k: int = MINHASH_K, band_rows: int = LSH_BAND_ROWS
) -> DataFrame:
    """doc_ids to DROP under LSH near-dedup: every document that shares some
    band bucket with a smaller doc_id (i.e. ``doc_b`` of at least one
    candidate pair — exactly the pairs-based drop set, without materializing
    pairs).

    Scale shape: min-per-bucket + filter = linear in band rows, one shuffle,
    no quadratic bucket expansion — safe even on degenerate buckets holding
    millions of documents.
    """
    bands = lsh_bands(documents, k, band_rows)
    bucket_min = F.min("doc_id").over(Window.partitionBy("band", "sig"))
    return (
        bands.withColumn("_min", bucket_min)
        .filter(F.col("doc_id") > F.col("_min"))
        .select("doc_id")
        .distinct()
    )


def lsh_star_edges(
    documents: DataFrame, k: int = MINHASH_K, band_rows: int = LSH_BAND_ROWS
) -> DataFrame:
    """(doc_a, doc_b) STAR edges of the LSH collision graph: per
    (band, sig) bucket, one edge from the bucket's min doc_id to every
    other member — the same ``bucket_min`` window
    :func:`lsh_duplicate_ids` computes.

    Bucket co-membership is an equivalence GENERATOR, so for connected
    components the per-bucket star spans exactly what the all-pairs
    expansion spans: every bucket member reaches every other through the
    bucket min, and unions across buckets/bands compose identically.
    The difference is volume — O(N·bands) edges instead of
    Σ_buckets C(|bucket|, 2): on a boilerplate-heavy corpus one hot
    bucket makes the pair set explode quadratically (measured 313 k →
    31.5 M pairs over one synthetic decade) while the star stays linear.
    This is the edge list the cluster family (:func:`keepers_by_quality`,
    ``dedup_clusters``, cluster-safe splits) feeds to
    :func:`connected_components`; :func:`minhash_lsh_pairs` remains the
    CANDIDATE-pair emitter for operators that verify each pair
    individually (exact-Jaccard scoring needs real pairs, not spanning
    edges).

    One shuffle (the window over band rows) + a distinct on 16-byte edge
    rows; no pair expansion anywhere in the plan.
    """
    bands = lsh_bands(documents, k, band_rows)
    bucket_min = F.min("doc_id").over(Window.partitionBy("band", "sig"))
    return (
        bands.withColumn("_min", bucket_min)
        .filter(F.col("doc_id") > F.col("_min"))
        .select(F.col("_min").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def keepers_by_quality(documents: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, keeper_doc_id, is_keeper): near-duplicate
    clusters from the minhash-LSH pair graph with the keeper chosen by
    QUALITY — the longest version (most whitespace tokens, tie → smallest
    doc_id) — instead of blind min-id. Real cleaning pipelines keep the
    best duplicate (the un-truncated crawl, the un-boilerplated variant),
    not the first-seen one; min-id keeper selection silently prefers
    whatever was crawled earliest. Singletons are their own keeper.

    Spark shape: per-bucket STAR edges (:func:`lsh_star_edges` — linear,
    never the quadratic pair expansion) → pointer-jumping components (as
    :func:`connected_components`), then ONE (cluster_id) max-struct
    aggregate picks keepers — no per-cluster sort."""
    from solana_etl_spark.operators.text import tokens

    pairs = lsh_star_edges(documents)
    clusters = connected_components(pairs).select(
        F.col("doc_id").alias("_cd"), "cluster_id"
    )
    scored = documents.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("_nt")
    )
    member = scored.join(
        clusters, scored.doc_id == clusters._cd, "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        "_nt",
    )
    keepers = member.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("_nt"), (-F.col("doc_id")).alias("_neg"))).alias("_k")
    ).select("cluster_id", (-F.col("_k._neg")).alias("keeper_doc_id"))
    return member.join(keepers, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "keeper_doc_id",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
    )


def shingle_jaccard_pairs(
    documents: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b) pairs whose exact 2-word-shingle Jaccard ≥ threshold —
    the GROUND TRUTH the minhash-LSH banding scheme approximates (same
    shingle universe as :func:`minhash_signatures`).

    Global single-scan inverted index (posting lists per shingle → pair
    expansion → map-side-combined intersection counts). This is the audit
    path: exact, so quadratic inside hot posting lists — at corpus scale
    you run it on a hash_sample to measure the LSH operating point, never
    on the full corpus."""
    sh = ensure_compute_parallelism(documents).select(
        "doc_id", F.explode(word_shingles()).alias("sh")
    )
    sizes = documents.select(
        "doc_id", F.size(word_shingles()).alias("n_sh")
    )
    postings = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("_docs"))
        .filter(F.size("_docs") > 1)
    )
    inter = (
        expand_sorted_pairs(postings)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
    )
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b")
    )


LSH_EVAL_THRESHOLD = 0.5


def lsh_eval(
    documents: DataFrame,
    threshold: float = LSH_EVAL_THRESHOLD,
    k: int = MINHASH_K,
    band_rows: int = LSH_BAND_ROWS,
) -> DataFrame:
    """Measure the minhash-LSH banding operating point against exact
    ground truth ("measure, don't guess" applied to the dedup index):
    one row of (n_truth, n_candidates, n_hits, precision, recall), where
    truth = exact shingle-Jaccard ≥ threshold and candidates = the banded
    LSH collision pairs.

    This is the number that justifies a (k, band_rows) choice before
    trusting it on a corpus — recall says what the dedup pass misses,
    precision says how much exact verification the candidates cost.
    """
    truth = shingle_jaccard_pairs(documents, threshold).withColumn(
        "is_true", F.lit(1)
    )
    cand = minhash_lsh_pairs(documents, k, band_rows).withColumn(
        "is_cand", F.lit(1)
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    # every count coalesces through the empty-join case (no near-dups at
    # all → agg over 0 rows yields NULL sums): counts report 0 and the
    # ratios NULL, consistently with the oracle's COALESCEd SUMs
    n_hit = F.coalesce(
        F.sum(
            F.when(
                F.col("is_true").isNotNull() & F.col("is_cand").isNotNull(), 1
            ).otherwise(0)
        ),
        F.lit(0),
    )
    n_truth = F.coalesce(F.sum("is_true"), F.lit(0))
    n_cand = F.coalesce(F.sum("is_cand"), F.lit(0))
    return j.agg(
        n_truth.cast("long").alias("n_truth"),
        n_cand.cast("long").alias("n_candidates"),
        n_hit.cast("long").alias("n_hits"),
        F.round(n_hit / n_cand, 6).alias("precision"),
        F.round(n_hit / n_truth, 6).alias("recall"),
    )


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """doc_id + simhash: bit b is the sign of Σ_tokens (bit_b(h(token))·2−1)
    over distinct word tokens, h = the 60-bit cross-engine md5 hash. Pure
    per-row expressions.

    Perf shape: ONE pass over the token-hash array accumulating all `bits`
    signed bit-counts via zip_with (measured 2× faster at sf0.1 than `bits`
    separate aggregate passes); the counts array is materialized in its own
    projection so the per-bit sign tests reuse it (≥2 references survive
    CollapseProject).
    """
    # materialize token hashes once; the single accumulator pass reads them.
    # Expressions are SQL strings (r9): the Column-API construction of the
    # 60 per-bit terms cost ~600 py4j round trips per build (see
    # plans/views.py for the measurement); the parsed trees are identical.
    hashes = (
        f"transform(array_distinct({_toks_expr('text')}),"
        f" _sh_t -> {hash64_spark_sql('_sh_t')})"
    )
    with_hashes = ensure_compute_parallelism(documents).selectExpr(
        "doc_id", f"{hashes} AS _hashes"
    )
    powers = ", ".join(f"CAST({1 << b} AS BIGINT)" for b in range(bits))
    counts = (
        f"aggregate(_hashes, array_repeat(CAST(0 AS BIGINT), {bits}),"
        f" (acc, h) -> zip_with(acc, array({powers}),"
        f" (a, p) -> a + CASE WHEN (h & p) != 0 THEN 1 ELSE -1 END))"
    )
    with_counts = with_hashes.selectExpr("doc_id", f"{counts} AS _counts")
    sim = " + ".join(
        f"CASE WHEN element_at(_counts, {b + 1}) > 0 THEN {1 << b} ELSE 0 END"
        for b in range(bits)
    )
    return with_counts.selectExpr(
        "doc_id", f"CAST({sim} AS BIGINT) AS simhash"
    )


def simhash_pairs(
    documents: DataFrame,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, hamming ≤ max_hamming) via multi-band
    hamming-LSH: two docs are candidates iff some (band_idx, band_bits)
    key matches; exact ``bit_count(xor)`` verification follows.

    Since max_hamming < bands, ≤max_hamming differing bits leave at least
    one band untouched, so the candidate set provably contains every
    qualifying pair — the result is EXACTLY the quadratic all-pairs answer
    (the oracle is the brute-force definition), at bucket-join cost.

    Spark shape (r9): ONE signature pass + ONE bucket shuffle via
    :func:`banded_hamming_pairs` — band rows group by (band, band_val) and
    each bucket's sorted (id, sig) members expand through the codegen
    posexplode+slice pair kernel. The previous band-key self-join evaluated
    the md5-per-token signature accumulator once per join side (twice
    total) and at corpus scale either broadcast the full band explosion or
    shuffled both sides; the r1 collect_list + flatten/transform form that
    measured 2.7× slower expanded pairs through one interpreted quadratic
    lambda per bucket — the posexplode+slice kernel keeps the expansion in
    codegen.
    """
    s = simhash(documents, bits)
    return banded_hamming_pairs(
        s, "doc_id", "simhash", bits, bands, max_hamming
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


#: Triangle-block edge for hot-bucket pair expansion: buckets larger than
#: this are split into ceil(n/chunk) chunks and the k(k+1)/2 chunk-pair
#: rows are hash-spread across tasks, so one skewed (band, band_val)
#: bucket no longer expands its whole C(n,2) pair stream in a single task
#: (guide §2.5 "split hot keys"). 256 bounds per-row expansion at
#: 256² = 65 536 pairs while keeping the chunk-pair stream ~the size of
#: the bucket stream for well-distributed corpora (every bucket ≤ 256
#: stays a single chunk-pair row).
BANDED_HAMMING_CHUNK = 256


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    chunk_size: int = BANDED_HAMMING_CHUNK,
) -> DataFrame:
    """The signature-agnostic core of :func:`simhash_pairs`: (id_a, id_b,
    hamming ≤ max_hamming) pairs over ANY integer-signature column
    (simhash, image dHash, …) via multi-band hamming-LSH with exact
    ``bit_count(xor)`` verification. Exactly the all-pairs answer when
    ``max_hamming < bands`` (pigeonhole); first-colliding-band emission —
    no distinct() over the pair stream.

    Plan shape (r9): ONE signature pass + ONE bucket shuffle. Band rows
    group by (band, band_val); each bucket's sorted (id, sig) members
    expand into ordered pairs via the shared posexplode+slice kernel (same
    as :func:`expand_sorted_pairs`, widened to carry sig). The previous
    band-key SELF-JOIN evaluated the upstream signature expression once
    per side — for simhash that is the md5-per-token accumulator twice,
    and for image/audio callers the whole decode+fingerprint kernel twice
    — and at scale it either broadcasts the full band explosion of the
    corpus or shuffles both sides (guide §2.4/§3.1). The bucket arrays add
    O(bucket) task memory, bounded by the same quadratic pair output any
    emitter pays (2^band_bits values per band keep buckets small).

    Hot-bucket straggler guard (r9, guide §2.5): a skewed bucket of n
    members would otherwise expand all C(n,2) pairs in the single task
    holding its row (measured on the audio fingerprint corpus: max bucket
    3290 members ⇒ ~5.4 M xor/bit_count pair rows in one task, a
    recurring 22+1/23 straggler stage). Each bucket's sorted member array
    is therefore split into ceil(n/chunk_size) chunks and the triangle of
    chunk-pair rows (i ≤ j) is hash-repartitioned before expansion: a
    same-chunk row expands via the posexplode+slice kernel, a cross-chunk
    row via a full A×B explode (valid ordered pairs by construction —
    the array is sorted by id, so every left-chunk id < every right-chunk
    id). The repartition shuffles only bucket ARRAYS (linear in corpus,
    ~the bucket stream itself), never the quadratic pair stream, and the
    pair set it expands is exactly the same triangle. Buckets ≤ chunk_size
    degenerate to one same-chunk row — identical work to the unchunked
    form plus the one extra (small) exchange."""
    assert max_hamming < bands, "banded hamming-LSH is exact only if bands > max_hamming"
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    s = sigs.select(
        F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig")
    )

    band_structs = ", ".join(
        f"named_struct('band', {i}, 'band_val',"
        f" shiftright(_sig, {i * band_bits}) & {mask})"
        for i in range(bands)
    )
    rows = s.selectExpr(
        f"explode(array({band_structs})) AS bb", "_id", "_sig"
    ).selectExpr("bb.band", "bb.band_val", "_id", "_sig")
    buckets = rows.groupBy("band", "band_val").agg(
        F.expr(
            "array_sort(collect_list(struct(_id AS id, _sig AS sig))) AS _mem"
        )
    ).filter("size(_mem) > 1")
    # triangle-block the bucket: k = ceil(n / chunk_size) chunks, one row
    # per (ci ≤ cj) chunk pair, hash-spread so a hot bucket's quadratic
    # expansion lands on many tasks instead of one
    n_chunks = f"CAST(ceil(size(_mem) / {chunk_size}) AS INT)"
    chunk_pairs = (
        buckets.selectExpr(
            "band",
            "band_val",
            "_mem",
            f"explode(sequence(0, {n_chunks} - 1)) AS ci",
        )
        .selectExpr(
            "band",
            "band_val",
            "_mem",
            "ci",
            f"slice(_mem, ci * {chunk_size} + 1, {chunk_size}) AS _left",
        )
        .selectExpr(
            "band",
            "band_val",
            "ci",
            "_left",
            f"explode(sequence(ci, {n_chunks} - 1)) AS cj",
            "_mem",
        )
        .selectExpr(
            "band",
            "band_val",
            "ci",
            "cj",
            "_left",
            f"slice(_mem, cj * {chunk_size} + 1, {chunk_size}) AS _right",
        )
        .repartition("band", "band_val", "ci", "cj")
    )
    joined = (
        chunk_pairs.selectExpr(
            "band",
            "ci = cj AS _same",
            "posexplode(_left) AS (i, _a)",
            "_right",
        )
        .selectExpr(
            "band",
            "_a.id AS id_a",
            "_a.sig AS sim_a",
            # same-chunk: ordered suffix pairs within the chunk;
            # cross-chunk: full A×B (already ordered — sorted array)
            "explode(CASE WHEN _same"
            " THEN slice(_right, i + 2, size(_right))"
            " ELSE _right END) AS _b",
        )
        .selectExpr(
            "band",
            "id_a",
            "sim_a",
            "_b.id AS id_b",
            "_b.sig AS sim_b",
        )
        .filter("id_a < id_b")
    )
    hamming = "bit_count(sim_a ^ sim_b)"
    # emit each pair only from its FIRST colliding band (every earlier band
    # must differ) — exactly-once without a distinct() shuffle over the
    # expanded pair stream (pair volume is quadratic in cluster size, so at
    # dup-heavy corpora that distinct dominates the whole query)
    first_band_only = " AND ".join(
        ["true"]  # single band: every pair is first-band
        + [
            f"(band <= {j} OR"
            f" (shiftright(sim_a ^ sim_b, {j * band_bits}) & {mask}) != 0)"
            for j in range(bands - 1)
        ]
    )
    return joined.filter(
        f"({first_band_only}) AND {hamming} <= {max_hamming}"
    ).selectExpr("id_a", "id_b", f"{hamming} AS hamming")


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Transitive duplicate clusters from a candidate-pair edge list:
    one row per node with ``cluster_id`` = min doc_id reachable through the
    pair graph (the canonical keeper of the cluster).

    This is the capstone of the dedup pipeline: LSH emits PAIRS, but dropping
    duplicates needs CLUSTERS (A~B, B~C ⇒ {A,B,C} keep only A even when A,C
    never collide directly).

    Spark shape: iterative min-label propagation WITH pointer jumping. Per
    round, a node takes the min of (its label, its neighbors' labels, and its
    label's label — the pointer-jump join that halves remaining chain depth
    every round), then ``localCheckpoint`` truncates the lineage (iterative
    plans otherwise grow exponentially). Plain propagation needs O(diameter)
    rounds — duplicate CHAINS (doc₀~doc₁~…~docₖ, adjacent-only collisions)
    make that linear in chain length; the pointer-jump term drops it to
    O(log diameter), the same recurrence as large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond"). Convergence is
    detected via the label-sum invariant: labels only ever decrease, so an
    unchanged SUM(cluster_id) ⇔ a fixpoint — one scalar action per round
    instead of a change-count join.

    The fixpoint is unique (min reachable id is iteration-order-independent),
    so the result is deterministic and cross-engine checkable — the DuckDB
    oracle is a recursive-CTE transitive closure.
    """
    # persist the edge list: every round joins it, and materializing it once
    # also keeps the (expensive) upstream pair derivation from running twice
    # through the two union branches
    edges = (
        pairs.select(F.col(src).alias("esrc"), F.col(dst).alias("edst"))
        .union(pairs.select(F.col(dst).alias("esrc"), F.col(src).alias("edst")))
        .persist()
    )
    labels = (
        edges.select(F.col("esrc").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for _ in range(max_iterations):
        neighbor_msgs = edges.join(labels, edges["edst"] == labels["node"]).select(
            F.col("esrc").alias("node"), F.col("cluster_id")
        )
        # pointer jump: label(v) is itself a node of the same component, so
        # label(label(v)) is a valid (and ≤) label for v
        a, b = labels.alias("a"), labels.alias("b")
        jump_msgs = a.join(b, F.col("a.cluster_id") == F.col("b.node")).select(
            F.col("a.node").alias("node"), F.col("b.cluster_id").alias("cluster_id")
        )
        labels = (
            labels.union(neighbor_msgs)
            .union(jump_msgs)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


# Guard cap for the exact inverted-index pair miners: ~10× the sf0.1
# fixture candidate volume (~10 M), ~10% of the measured 50 k-doc Zipf
# blowup (1.15 B) — fixture/audit runs pass untouched, corpus-scale
# misuse fails loudly before the pair stream is built.
MAX_EXACT_NGRAM_CANDIDATES = 100_000_000


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    force: bool = False,
    max_candidates: int = MAX_EXACT_NGRAM_CANDIDATES,
) -> DataFrame:
    """AUDIT-SCALE ground truth: exact Jaccard with PERFECT RECALL over
    distinct char n-gram sets via an inverted-index join (explode → join
    on ngram → count per pair), restricted to pairs sharing
    (lang, source) to bound the candidate space.

    This is the exact-recall oracle you validate :func:`lsh_jaccard_pairs`
    against on a sample — NOT a corpus-scale pair miner. Exact-recall
    mining is intrinsically Σ C(df,2)-bound (see the measurements below),
    so before building the pair stream this operator estimates that sum
    with one cheap count-aggregate over the gram table and raises
    ``ValueError`` above ``max_candidates`` (default 100M — ~10× the
    sf0.1 fixture volume, ~10% of the measured 50k-doc blowup) unless
    ``force=True``. Production near-dup paths use
    :func:`lsh_jaccard_pairs` / :func:`minhash_lsh_drop_set`."""
    # Inverted index as ONE scan: group postings by (ngram, lang, source),
    # expand each posting list's sorted doc pairs per-row, then count per
    # pair — the (pairs × shared-grams) stream partial-aggregates map-side in
    # the same stage as the explode. The previous self-join formulation
    # computed the n-gram explode twice (once per join side); this computes
    # it once and shuffles postings once. (A candidates-then-array_intersect
    # variant was measured 2× slower — the distinct shuffle costs more than
    # the fused partial aggregation. Also measured and rejected at sf0.1:
    # repartitioning grams by (lang, source) to co-locate the pair agg
    # (5.4 s — the coarse key under-parallelizes and the exchange doesn't
    # elide) and xxhash64'ing grams to int64 shuffle keys (no change, and it
    # would trade exactness for nothing). The residual cost is the intrinsic
    # pair-count aggregation over the (pairs × shared-grams) stream.
    #
    # Round-4 measurements, auto-selecting a dense-corpus variant REJECTED:
    # on a 50k-doc Zipf-vocab corpus (hot grams in ~every doc) this plan
    # streams 1.15B candidate rows (133 s for 22 true pairs), but the
    # prefix-filtered PPJoin variant is NOT the answer — it still admits
    # 18.9M distinct candidates at t=0.7 (long docs ⇒ ~90-gram prefixes)
    # plus a per-doc rank of the whole gram stream (147 s), and riding the
    # doc sizes through the postings (struct collect_list, 4-key pair agg)
    # measured 2.2× SLOWER at sf0.1 (11.8 s vs 5.4 s — wider shuffle rows
    # beat the saved size joins). When gram-frequency skew, not near-dup
    # density, dominates, the scale path is :func:`lsh_jaccard_pairs`:
    # exact Jaccard VALUES on LSH-banded candidates (313k candidates,
    # ~10 s on the same corpus), trading the recall tail for linear
    # shuffles. Exact-recall pair mining on such corpora is intrinsically
    # the Σ C(df,2) object; no formulation avoids it.
    scored = _ngram_intersections(
        documents, force=force, max_candidates=max_candidates
    )
    return (
        scored.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("grams_a") + F.col("grams_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _ngram_intersections(
    documents: DataFrame,
    force: bool = False,
    max_candidates: int = MAX_EXACT_NGRAM_CANDIDATES,
    scale_remedy: str = (
        "use lsh_jaccard_pairs (exact Jaccard values on LSH candidates, "
        "linear shuffles) or minhash_lsh_drop_set for production dedup"
    ),
) -> DataFrame:
    """(doc_a, doc_b, n_inter, grams_a, grams_b) for every pair sharing a
    char n-gram within its (lang, source) block — the shared exact core
    of the Jaccard and containment scorers (the score is the only thing
    that differs).

    Candidate-volume guard: the pair stream this builds is exactly
    Σ_grams C(df, 2) rows — on hot-gram corpora that explodes far beyond
    the output (measured 1.15 B candidate rows for 22 true pairs on a
    50 k-doc Zipf corpus). Unless ``force=True``, the sum is estimated
    FIRST with one count-only aggregate over the gram stream (no posting
    arrays materialized — a linear shuffle of (ngram, count) rows, cheap
    relative to the pair expansion it may avert) and a ``ValueError``
    names :func:`lsh_jaccard_pairs` as the scale path when the estimate
    exceeds ``max_candidates``. Pass-through at fixture scale (sf0.1
    streams ~10 M candidates; the default cap is 100 M), so driver
    oracles are unaffected.

    Laziness caveat: the guard's estimate is an EAGER Spark job at
    plan-construction time (``.first()``), so unlike most operators here
    this one runs work before any action on the returned DataFrame and
    scans the corpus twice overall (estimate + real run). Acceptable for
    an audit-scale operator; callers composing it into larger lazy plans
    should pass ``force=True`` (skipping the guard and the extra scan)
    once the corpus is known to be in-bounds."""
    grams = ensure_compute_parallelism(documents).select(
        "doc_id",
        "lang",
        "source",
        F.explode(char_ngrams("text", NGRAM_N)).alias("ngram"),
    )
    if not force:
        est = (
            grams.groupBy("ngram", "lang", "source")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(
                F.sum(
                    F.col("df").cast("double")
                    * (F.col("df") - 1).cast("double")
                    / 2.0
                ).alias("cand")
            )
            .first()["cand"]
        )
        if est is not None and est > max_candidates:
            raise ValueError(
                f"exact n-gram pair mining would stream ~{est:.3g} candidate "
                f"rows (Σ C(df,2) over the inverted index; cap "
                f"{max_candidates}). This operator is the audit-scale "
                f"exact-recall ground truth, not a corpus-scale miner — "
                f"{scale_remedy}, or pass force=True to run the audit "
                "anyway."
            )
    # per-doc set size from the (already-distinct) gram array BEFORE the
    # explode: a per-row projection over the narrow documents scan, instead
    # of re-aggregating the exploded gram stream (removes one shuffle over
    # the widest intermediate — the r1 plan's biggest cost).
    sizes = documents.select(
        "doc_id", F.size(char_ngrams("text", NGRAM_N)).alias("n_grams")
    )
    postings = (
        grams.groupBy("ngram", "lang", "source")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("_docs"))
        .filter(F.size("_docs") > 1)
    )
    inter = (
        expand_sorted_pairs(postings)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("grams_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("grams_b"))
    return inter.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")


CONTAINMENT_THRESHOLD = 0.8


def ngram_containment_pairs(
    documents: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
    force: bool = False,
    max_candidates: int = MAX_EXACT_NGRAM_CANDIDATES,
) -> DataFrame:
    """Asymmetric near-dup detection: pairs where the SMALLER document's
    gram set is ≥ ``threshold`` contained in the pair's intersection —
    ``containment = |A∩B| / min(|A|, |B|)``. Catches the
    page-inside-boilerplate / quoted-article / chrome-wrapped-copy cases
    whose Jaccard is LOW because the larger side dilutes the union (a doc
    fully contained in one 10× its size has containment 1.0 but Jaccard
    ≤ 0.1, invisible to :func:`ngram_jaccard_pairs` at any useful
    threshold). Exact recall: same single-scan inverted index
    (:func:`_ngram_intersections`) — this is the standard Broder
    containment score over the same machinery, and deliberately NOT
    LSH-seeded (minhash bands are tuned for Jaccard; a small-in-big pair
    rarely collides, so LSH candidates would miss exactly the pairs this
    operator exists for). Shares :func:`_ngram_intersections`'s
    Σ C(df,2) candidate-volume guard (``force=True`` overrides) — there
    is no LSH fallback for containment, so above the cap the remedy is
    sharding the corpus or raising ``max_candidates`` deliberately."""
    scored = _ngram_intersections(
        documents,
        force=force,
        max_candidates=max_candidates,
        # LSH candidates systematically miss small-in-big pairs, so unlike
        # the Jaccard miner there is no LSH fallback to point at here.
        scale_remedy=(
            "shard the corpus into bounded (lang, source, shard) blocks or "
            "raise max_candidates deliberately (containment has no LSH "
            "fallback: minhash bands tuned for Jaccard rarely collide for "
            "the small-in-big pairs this operator exists to find)"
        ),
    )
    return (
        scored.withColumn(
            "containment",
            F.round(
                F.col("n_inter") / F.least("grams_a", "grams_b"), 6
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def ngram_jaccard_pairs_prefix(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Prefix-filtered exact Jaccard (AllPairs/PPJoin family): identical
    output to :func:`ngram_jaccard_pairs`, different asymptotics.

    Order the gram universe by ascending document frequency; index only each
    document's prefix — its ``n - ceil(t*n) + 1`` RAREST grams. The prefix
    lemma (Chaudhuri/Ganti/Kaushik; Bayardo et al. "Scaling Up All Pairs
    Similarity Search") guarantees any pair with Jaccard ≥ t shares a prefix
    gram, so candidates from prefix postings have perfect recall; each
    candidate is then verified exactly with one ``array_intersect``.

    Tradeoff, measured on the synthetic corpus at sf0.1: the inverted-index
    count plan streams 9.8M (pair × shared-gram) rows but is one fused
    shuffle (5.1 s); this plan cuts the candidate stream to 1.1M (rare grams
    have short postings) at the cost of a df join + per-doc rank + verify
    joins (12.1 s). The count plan's stream grows ~quadratically with
    per-(lang, source) group size while the prefix stream tracks true-
    near-dup density, so THIS is the formulation to reach for when groups
    are 10-100× larger than bench scale; both are exact, pick by corpus
    shape.
    """
    base = (
        ensure_compute_parallelism(documents)
        .select(
            "doc_id",
            "lang",
            "source",
            char_ngrams("text", NGRAM_N).alias("grams"),
        )
        .withColumn("n", F.size("grams"))
    )
    g = base.select(
        "doc_id", "lang", "source", "n", F.explode("grams").alias("ngram")
    )
    dfreq = g.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "ngram")
    prefix = (
        g.join(dfreq, "ngram")
        .withColumn("rk", F.row_number().over(w))
        .filter(
            F.col("rk")
            <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        )
    )
    postings = (
        prefix.groupBy("ngram", "lang", "source")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("_docs"))
        .filter(F.size("_docs") > 1)
    )
    cands = expand_sorted_pairs(postings).distinct()
    ga = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("grams_a"),
        F.col("n").alias("na"),
    )
    gb = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("grams_b"),
        F.col("n").alias("nb"),
    )
    return (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("grams_a", "grams_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


SPAN_W = 8  # duplicated-span window length in tokens (Lee et al. use 50
# BPE tokens on web corpora; fixture docs are 10-100 words, so 8 keeps the
# operator non-vacuous at every sf — 45/47/477 spans at sf0.001/0.01/0.1)


def duplicated_spans(documents: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Exact-substring duplicate spans [Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"]: every MAXIMAL token span
    covered by some w-token window whose exact content occurs ≥ 2 times
    anywhere in the corpus (another document OR elsewhere in the same
    one). Output: one row per maximal merged span —
    ``(doc_id, span_start, span_end, n_windows)`` in token offsets — the
    removal set of substring-level dedup, which catches templated/quoted
    passages inside otherwise-unique documents that document-level
    (exact/MinHash) dedup never sees.

    Plan shape, 100 TB: positional w-token windows are a per-row
    posexplode; windows reduce to a 60-bit hash immediately (16-byte
    shuffle rows; both engines hash identically so the oracle is
    value-exact — the 60-bit collision odds are the standard trade);
    duplicated-window detection is ONE map-side-combined count keyed by
    the hash; occurrences rejoin the duplicated set by hash (AQE
    broadcast when the dup set is small); the interval merge is a
    gaps-and-islands cumsum windowed per doc_id — state bounded by
    document length, never corpus-global.
    """
    from solana_etl_spark.operators.text import _ngram_expr

    pos_grams = ensure_compute_parallelism(documents).select(
        "doc_id", F.posexplode(F.expr(_ngram_expr(w))).alias("pos", "gram")
    ).select("doc_id", "pos", hash64(F.col("gram")).alias("h"))
    dup = (
        pos_grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    hits = pos_grams.join(dup, "h").select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + w).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = hits.withColumn(
        "ni",
        F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn("island", F.sum("ni").over(w_doc))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + w).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def strip_duplicated_spans(documents: DataFrame, w: int = SPAN_W) -> DataFrame:
    """The removal half of substring dedup [Lee et al. 2022]: drop every
    token covered by a duplicated span (:func:`duplicated_spans`), keep
    the rest in order. Output per document:
    ``(doc_id, n_tokens, n_dup_tokens, text_stripped)``.

    Shape: the span table (small — it is the duplicated content) groups
    to one array per affected doc and left-joins back; the strip itself
    is a per-row array filter (codegen, zero extra shuffle on top of
    duplicated_spans' own)."""
    spans = duplicated_spans(documents, w).groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("_dup"),
    )
    toks = tokens(F.col("text"))
    kept = F.expr(
        "filter(transform(split(lower(trim(text)), '\\\\s+'), (t, i) -> "
        "CASE WHEN exists(_spans, s -> i >= s.span_start AND i < s.span_end) "
        "THEN NULL ELSE t END), t -> t IS NOT NULL)"
    )
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    return (
        documents.join(spans, "doc_id", "left")
        .withColumn("_spans", F.coalesce("_spans", empty))
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.coalesce("_dup", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.array_join(kept, " ").alias("text_stripped"),
        )
    )


def lsh_jaccard_pairs(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Near-dup pairs with EXACT char-n-gram Jaccard values, candidates
    from banded MinHash-LSH — the 100 TB formulation of
    :func:`ngram_jaccard_pairs` for corpora whose gram-frequency
    distribution makes the inverted index explode.

    Exactness contract: every emitted (doc_a, doc_b, jaccard) is the true
    n-gram Jaccard (LSH only generates candidates; each is verified with
    one ``array_intersect`` over the full gram arrays), but recall is the
    LSH band recall — a true pair colliding in no band is not emitted.
    :func:`ngram_jaccard_pairs` has perfect recall; this trades the tail
    of it for linear shuffles.

    Why it exists (round-4 measurements on the 50k-doc Zipf corpus,
    threshold 0.7): the inverted-index count plan generates 1.15 BILLION
    candidate (pair × shared-gram) rows (Σ C(df,2) over hot grams — 133 s
    for 22 true pairs); the prefix-filtered PPJoin variant still admits
    18.9 M distinct candidates (long docs ⇒ prefixes of ~90 grams keep
    plenty of shared ones) and pays a per-doc rank of the whole gram
    stream on top (147 s). LSH banding is the only candidate generator
    whose volume tracks TRUE near-dup density (313 k candidates, ~10 s)
    rather than gram-frequency skew. Shapes: signatures are per-row
    expressions, ONE bucket shuffle, candidates << corpus², verify joins
    are doc-keyed.
    """
    cands = minhash_lsh_pairs(documents)
    # parallelize the gram projection: char_ngrams is the expensive
    # interpreted expression and the source often arrives in 1-2 parquet
    # partitions (measured: the unpartitioned verify scan dominated the
    # whole query at 50k docs)
    grams = ensure_compute_parallelism(documents).select(
        "doc_id", "lang", "source", char_ngrams("text", NGRAM_N).alias("_grams")
    )
    ga = grams.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("_lang_a"),
        F.col("source").alias("_source_a"),
        F.col("_grams").alias("_ga"),
        F.size("_grams").alias("grams_a"),
    )
    gb = grams.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("_lang_b"),
        F.col("source").alias("_source_b"),
        F.col("_grams").alias("_gb"),
        F.size("_grams").alias("grams_b"),
    )
    return (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        # same (lang, source) blocking as ngram_jaccard_pairs, so this
        # output is a true recall-SUBSET of the exact operator (without it
        # LSH would emit cross-block pairs the exact path never emits —
        # a contract divergence, not just lower recall). Null-safe
        # equality matches the exact plan's groupBy-key semantics.
        .filter(
            F.col("_lang_a").eqNullSafe(F.col("_lang_b"))
            & F.col("_source_a").eqNullSafe(F.col("_source_b"))
        )
        .withColumn("n_inter", F.size(F.array_intersect("_ga", "_gb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("grams_a") + F.col("grams_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_index(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The persistable dedup index of a corpus: (exact_index, band_index).

    exact_index — distinct normalized-content hashes (16 bytes/row);
    band_index — distinct (band, sig) LSH bucket keys. At 100 TB these are
    the two small-by-construction tables an ingest pipeline keeps in its
    warehouse and unions incrementally; re-scanning the corpus per batch is
    the anti-pattern this operator exists to avoid.
    """
    exact = documents.select(
        hash64(normalized_text()).alias("content_hash")
    ).distinct()
    bands = lsh_bands(documents).select("band", "sig").distinct()
    return exact, bands


def incremental_dedup(
    new_docs: DataFrame, exact_index: DataFrame, band_index: DataFrame
) -> DataFrame:
    """New-batch rows that are neither exact nor LSH-near duplicates of the
    indexed corpus: anti-join on content hash, then anti-join the batch's
    LSH band rows against the corpus bucket keys (a new doc colliding with
    ANY indexed bucket is a near-dup candidate and is dropped —
    drop-on-candidate, the same policy as lsh_duplicate_ids).

    Scale shape: two hash anti-joins keyed on narrow values; the new batch
    is typically ≪ the index, so AQE broadcasts the batch side. Linear, no
    pair materialization, no corpus re-scan.
    """
    not_exact = new_docs.join(
        exact_index,
        hash64(normalized_text()) == exact_index["content_hash"],
        "left_anti",
    )
    near_hit = (
        lsh_bands(not_exact)
        .join(band_index, ["band", "sig"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    return not_exact.join(near_hit, "doc_id", "left_anti")


# --- content-defined chunking (shift-robust chunk dedup) -------------------

CDC_DIVISOR = 8  # boundary probability 1/8 → ~8-token expected chunks


def cdc_chunks(documents: DataFrame, divisor: int = CDC_DIVISOR) -> DataFrame:
    """Content-defined chunking [Rabin-style, the storage-dedup boundary
    rule]: a token STARTS a new chunk when its own hash ≡ 0 (mod
    ``divisor``), so boundaries depend only on local content — inserting
    or deleting a token perturbs at most its own chunk, where fixed-stride
    chunking shifts every later boundary and destroys all downstream
    matches. The shift-robust complement of packing.chunk_documents.

    Output: one row per (doc_id, chunk_id) with ``n_tokens``,
    ``chunk_hash`` (of the space-joined token run) — the key cross-doc
    chunk dedup groups on.

    Shape: one posexplode + one doc-keyed window cumsum + one
    (doc, chunk) aggregate with map-side combine; all linear, shuffle rows
    are tokens with 16-byte payloads. Deterministic chunk text via an
    in-group (pos, tok) sort — never a bare collect_list order."""
    toks = documents.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    boundary = (
        (hash64(F.col("tok")) % divisor == 0) & (F.col("pos") > 0)
    ).cast("long")
    w = Window.partitionBy("doc_id").orderBy("pos")
    chunked = toks.withColumn("chunk_id", F.sum(boundary).over(w))
    return (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
                " s -> s.tok), ' ')"
            ).alias("_chunk_text"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "n_tokens",
            hash64(F.col("_chunk_text")).alias("chunk_hash"),
        )
    )


def cdc_duplicate_chunks(
    documents: DataFrame, divisor: int = CDC_DIVISOR
) -> DataFrame:
    """Cross-document duplicate chunks under content-defined boundaries:
    per repeated ``chunk_hash``, occurrence and distinct-document counts
    plus the first-occurrence keeper — the chunk-granular dedup table that
    still matches when a near-copy has insertions (fixed-stride chunk
    hashes would all shift). One further hash-keyed aggregate."""
    return (
        cdc_chunks(documents, divisor)
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
            F.max("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )
