"""Similarity search over an embedding column (``embeddings(vec_id,
embedding float[], label)``) — charter §2.11.

Scale design:

* **brute-force cosine top-k** — the correctness baseline: one pass computing
  dot(query, v) per row with ``zip_with``+``aggregate`` (JVM, no UDF), then a
  global top-k. The query vector is a broadcast-sized literal; the scan is
  embarrassingly parallel. This is the right plan up to ~10^8 vectors.
* **bucketed near-dup / LSH** — pair generation keyed by bucket (label or a
  deterministic sign-projection signature), never all-pairs; the standard
  sub-quadratic path at 100 TB. IVF-style: probe only matching buckets.
* **the vector-index core** — the IVF coarse quantizer here and the PQ
  sub-quantizers in ``operators/pq.py`` are one k-means [Jégou, Douze,
  Schmid, TPAMI 2011], written once over a (vec_id, sub, svec) stream
  of scaled-int64 vectors (exact integer math, value-hash oracle-able):
  :func:`split_subspaces` cuts vectors into m subspaces keyed by sub
  (IVF is the unkeyed m = 1 case, :func:`_one_subspace`); :func:`_lloyd`
  is the one Lloyd trainer with the one training-set policy (hash sample
  or ``train_cap`` bound); :func:`_assign` is the one nearest-centroid
  assignment under the one :func:`_sqdist`; :func:`_probes` is the one
  probe-list step (nprobe nearest centroids per query, by (qd, cid));
  and :func:`_query` is the one single-query pick (the min-vec_id
  vector, by TakeOrdered) for every single-query operator in both files.

Floating point: dot products are folded sequentially over the array in BOTH
engines (Spark ``aggregate``, DuckDB ``list_reduce``-equivalent comprehension
sum), and inputs are float32 upcast to float64, so scores are bit-identical
and safe to compare at 6 decimals against the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from solana_etl_spark.functions.parallelism import ensure_compute_parallelism

COSINE_NEARDUP_THRESHOLD = 0.95
TOPK = 10
LSH_SIGN_BITS = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _query(df: DataFrame, **cols: str) -> DataFrame:
    """The single-query convention: ``df``'s min-vec_id row as (q_id,
    *cols), each keyword an alias of a ``df`` column, picked by TakeOrdered
    (orderBy+limit: per-partition top-1, no global sort and no window)."""
    return df.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("q_id"), *[F.col(c).alias(a) for a, c in cols.items()]
    )


def normalized(embeddings: DataFrame) -> DataFrame:
    """Pre-normalize embeddings once (÷ L2 norm) so pairwise cosine becomes
    a single dot product — norms are NOT recomputed per pair. The oracle
    mirrors this exact normalize-then-dot formula (float division order
    matters bit-for-bit)."""
    emb = F.col("embedding")
    return ensure_compute_parallelism(embeddings).withColumn(
        "_nemb",
        F.transform(emb, lambda x: x.cast("double") / _norm(emb)),
    )


def cosine_topk(embeddings: DataFrame, k: int = TOPK) -> DataFrame:
    """Top-k most-similar vectors to the corpus's min-vec_id query vector
    (deterministic choice), ties broken by vec_id.

    Plan: broadcast the 1-row query side (cross join with a literal-sized
    dim), score per row, global top-k via sort+limit (Spark runs this as
    TakeOrderedAndProject — no full sort materialization)."""
    nemb = normalized(embeddings)
    q = _query(nemb, q_vec="_nemb")
    scored = nemb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_id"))
    return (
        scored.select(
            "vec_id",
            F.round(_dot(F.col("_nemb"), F.col("q_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = COSINE_NEARDUP_THRESHOLD
) -> DataFrame:
    """Near-duplicate vector pairs: candidates share a sign-projection LSH
    bucket (:func:`lsh_sign_buckets`), then each candidate pair is verified
    exactly with one dot product over pre-normalized embeddings.

    Scale shape: the join is keyed by the 2^LSH_SIGN_BITS-value bucket
    column, so the candidate count is Σ_buckets n_b², sub-quadratic whenever
    the projection spreads the corpus — vs the r1 label-bucket form, which
    degenerated to all-pairs-per-label with O(1) labels. Near-identical
    vectors agree on sign comparisons except at coordinates near the
    hyperplane, so recall is high by construction; the oracle mirrors the
    same candidate definition, making the operator deterministic
    (approximate-by-definition, not approximate-by-race)."""
    space = normalized(embeddings).select(
        "vec_id", "_nemb", _sign_bucket(LSH_SIGN_BITS).alias("bucket")
    )
    a, b = space.alias("a"), space.alias("b")
    sim = F.round(_dot(F.col("a._nemb"), F.col("b._nemb")), 6)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ann_bucketed_topk(embeddings: DataFrame, k: int = TOPK) -> DataFrame:
    """Approximate top-k: search only the query's LSH bucket (IVF-style
    probe). At scale the bucket column is the partition key, so a probe
    reads one partition instead of the corpus; recall is traded for a
    ~2^bits scan reduction. Same deterministic scoring as the exact path."""
    scored_space = normalized(embeddings).select(
        "vec_id", "_nemb", _sign_bucket(LSH_SIGN_BITS).alias("bucket")
    )
    q = _query(scored_space, q_vec="_nemb", q_bucket="bucket")
    candidates = scored_space.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    return (
        candidates.select(
            "vec_id",
            F.round(_dot(F.col("_nemb"), F.col("q_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def semantic_dedup(
    embeddings: DataFrame, threshold: float = COSINE_NEARDUP_THRESHOLD
) -> DataFrame:
    """Embedding-level corpus dedup, the semantic analog of the text dedup
    capstone: sign-LSH candidate pairs verified by exact cosine
    (:func:`embedding_neardup_pairs`) → transitive clusters (pointer-jumping
    connected components) → one keeper per cluster (min vec_id).

    Returns (vec_id, cluster_id, is_keeper) for EVERY input vector —
    singletons are their own keeper — so a training pipeline can
    ``filter(is_keeper)`` to drop semantic duplicates in one join.

    Scale shape: candidates are bucket-keyed (sub-quadratic), the cluster
    step is O(log diameter) rounds, and the final join is on vec_id only —
    no step touches all-pairs or collects to the driver.

    Why CC consumes verified PAIRS here (unlike the text-dedup cluster
    family, which feeds CC from ``dedup.lsh_star_edges``): the text
    clusters' edge relation IS bucket co-membership — an equivalence
    generator — so a per-bucket star spans identical components with
    linear edges. Here the edge relation is ``cosine ≥ threshold``,
    verified per pair; a bucket star would union every bucket co-member
    regardless of cosine (coarser, WRONG clusters — e.g. two far vectors
    that merely share a sign bucket). The verified pair set is the
    semantic definition, and its volume is already bounded by the bucket
    join (Σ_buckets n_b²) — at 100 TB you size LSH_SIGN_BITS so buckets
    stay small, which bounds pairs and CC edges together.
    """
    from solana_etl_spark.operators.dedup import connected_components

    pairs = embedding_neardup_pairs(embeddings, threshold)
    cc = connected_components(pairs, src="vec_a", dst="vec_b").select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    return (
        embeddings.select("vec_id")
        .join(cc, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", F.col("vec_id")).alias("cluster_id"),
        )
        .withColumn("is_keeper", F.col("cluster_id") == F.col("vec_id"))
    )


def _sign_bucket(bits: int = LSH_SIGN_BITS) -> Column:
    """Sign-projection bucket expression over the raw ``embedding`` column:
    bit j compares coordinate j against coordinate j+bits (a fixed,
    data-independent hyperplane family). A per-row expression, so callers
    fuse it into their projection instead of joining a separate bucket
    relation (one scan, no join)."""
    emb = F.col("embedding")
    bucket = None
    for j in range(bits):
        bit = F.when(
            F.element_at(emb, j + 1).cast("double")
            > F.element_at(emb, j + 1 + bits).cast("double"),
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def lsh_sign_buckets(embeddings: DataFrame, bits: int = LSH_SIGN_BITS) -> DataFrame:
    """Deterministic sign-projection LSH bucket per vector. Bucket-equal
    vectors are ANN candidates; at scale this is the IVF/LSH partitioning
    key."""
    return embeddings.select(
        "vec_id", "label", _sign_bucket(bits).alias("bucket")
    )


# --- the vector-index core: IVF k-means and PQ codebooks -------------------
IVF_K = 8  # centroid count
IVF_ITERS = 2  # fixed Lloyd iterations (no convergence check → SQL-unrollable)
IVF_SCALE = 1_000_000  # float → scaled-int64 quantization factor
IVF_DIM = 64
IVF_NPROBE = 2
TRAIN_CAP = 100_000  # default k-means training-set bound (vectors)
MAXSIM_M = 8  # subvectors per vector (matches pq.PQ_M)
MAXSIM_SUBDIM = 8


def quantized(embeddings: DataFrame) -> DataFrame:
    """vec_id + embedding quantized to scaled int64 (round(x·1e6)).

    All downstream k-means math is EXACT integer arithmetic: distances,
    centroid sums, and the truncating mean are bit-identical across engines
    AND across partitionings (float accumulation order can never leak in).
    dim 64 · (3·10⁵)² per term keeps every sum far inside int64.
    """
    return ensure_compute_parallelism(embeddings).select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * IVF_SCALE, 0).cast("long"),
        ).alias("qvec"),
    )


def _sqdist(a: Column, b: Column) -> Column:
    """Exact squared L2 distance of two int64 arrays (a sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def split_subspaces(
    df: DataFrame, vec_col: str, m: int = MAXSIM_M, subdim: int = MAXSIM_SUBDIM
) -> DataFrame:
    """All of ``df``'s columns except ``vec_col``, plus (sub, svec): the
    array column split into m contiguous subspaces. Pure per-row explode —
    zero shuffle. Splits quantized vectors, IVF residuals and the PQ query
    (``operators/pq.py``) as well as MaxSim's float token vectors."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(vec_col, s * subdim + 1, subdim).alias("svec"),
            )
            for s in range(m)
        ]
    )
    keep = [c for c in df.columns if c != vec_col]
    return df.select(*keep, F.explode(subs).alias("s")).select(
        *keep, F.col("s.sub").alias("sub"), F.col("s.svec").alias("svec")
    )


def _one_subspace(vecs: DataFrame) -> DataFrame:
    """(vec_id, svec): quantized vectors as an unkeyed stream — IVF
    k-means is the PQ trainer on one subspace, which needs no sub key."""
    return vecs.select("vec_id", F.col("qvec").alias("svec"))


def _keys(df: DataFrame) -> list[str]:
    """The subspace key of a point stream or centroid table: ["sub"] for
    the PQ subspaces, [] for the one-subspace IVF stream."""
    return [c for c in df.columns if c == "sub"]


def _assign(points: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, [sub,] svec, cid, dist): the nearest centroid of each
    (vec_id[, sub]) among the centroids of its subspace (tiebreak: smaller
    cid). The centroid table (k rows per subspace) broadcasts; assignment
    is an embarrassingly parallel scan."""
    keys = _keys(centroids)
    d = _sqdist(F.col("svec"), F.col("cvec"))
    return (
        points.join(F.broadcast(centroids), keys or None)
        .select("vec_id", *keys, "svec", F.struct(d.alias("dist"), F.col("cid")).alias("dc"))
        .groupBy("vec_id", *keys)
        .agg(F.min("dc").alias("dc"), F.first("svec").alias("svec"))
        .select(
            "vec_id", *keys, "svec", F.col("dc.cid").alias("cid"), F.col("dc.dist").alias("dist")
        )
    )


def bounded_training(
    stream: DataFrame, count_src: DataFrame, train_cap: int
) -> DataFrame:
    """Bound a k-means training scan to ~``train_cap`` vectors: keep rows
    whose vec_id hashes into the first ceil(10000·cap/n) of the 10000
    sample buckets, where n is the IN-PLAN row count of ``count_src`` (a
    broadcast 1-row cross join — no driver action, no collect). Exact
    integer arithmetic (ceil-div), so the kept set is deterministic,
    retry-stable, and the DuckDB oracles mirror the predicate verbatim.
    While n ≤ cap the predicate is vacuously true (keep_bp = 10000) and
    training sees the whole input — which is why the small-sf oracle
    values are unchanged by the bounded default."""
    from solana_etl_spark.operators.sampling import sample_bucket

    n = count_src.agg(F.count(F.lit(1)).alias("_n"))
    keep_bp = F.expr(
        f"least(cast(10000 as bigint), "
        f"(cast({10000 * train_cap} as bigint) + _n - 1) div _n)"
    )
    return (
        stream.crossJoin(F.broadcast(n))
        .filter(sample_bucket(F.col("vec_id")) < keep_bp)
        .drop("_n")
    )


def _lloyd(
    subs: DataFrame,
    k: int,
    iters: int,
    train_bp: int = 10000,
    train_cap: int | None = TRAIN_CAP,
) -> DataFrame:
    """([sub,] cid, cvec): k centroids per subspace after ``iters``
    exact-integer Lloyd rounds over a (vec_id, [sub,] svec) stream — the
    m PQ subspaces train in ONE job keyed by sub, not m sequential jobs;
    the one-subspace IVF stream carries no key.

    Training set: ``train_bp`` < 10000 trains on the deterministic vec_id
    hash-sample (same predicate as ``sampling.hash_sample``); otherwise
    ``train_cap`` bounds it via :func:`bounded_training`, counting vectors
    as their sub-0 rows (every vector has exactly one); ``train_cap=None``
    trains on the whole stream. Centroid quality needs ~10⁴–10⁶ vectors,
    not the corpus, so at 100 TB training is sample-scale and only
    assignment touches every row.

    Init = each subspace's slice of the k vectors with the smallest
    (hash64(vec_id), vec_id) — a deterministic pseudo-random draw, taken
    as ONE TakeOrdered over one row per vector (per-partition top-k, no
    global sort) and ranked by a row_number over just those k rows; the
    PQ subspaces broadcast the k vec_ids back onto the training stream.
    Each round = one broadcast-assign scan + one narrow ([sub,] cid, dim)
    partial-sum shuffle; the update is the per-dimension truncating mean
    (s − s % n) / n, so Spark's `div` and DuckDB's `//` agree on negative
    sums. Empty clusters keep their previous centroid."""
    from solana_etl_spark.functions.hashing import hash64
    from solana_etl_spark.operators.sampling import sample_bucket

    keys = _keys(subs)
    first = F.col("sub") == 0 if keys else F.lit(True)  # one row per vector
    if train_bp < 10000:
        subs = subs.filter(sample_bucket(F.col("vec_id")) < train_bp)
    elif train_cap is not None:
        subs = bounded_training(subs, subs.filter(first), train_cap)
    # a PQ vector's other subspaces are other rows: those join back onto
    # the k picked vec_ids; an IVF vector is its one row, carried as is
    carried = [] if keys else ["svec"]
    init = (
        subs.filter(first)
        .select(hash64(F.col("vec_id").cast("string")).alias("_h"), "vec_id", *carried)
        .orderBy("_h", "vec_id")
        .limit(k)
    )
    init = init.select(
        "vec_id",
        *carried,
        (F.row_number().over(Window.orderBy("_h", "vec_id")) - 1).alias("cid"),
    )
    if keys:
        init = subs.join(F.broadcast(init), "vec_id")
    centroids = init.select(*keys, "cid", F.col("svec").alias("cvec"))
    for _ in range(iters):
        per_dim = (
            _assign(subs, centroids)
            .select(*keys, "cid", F.posexplode("svec").alias("dim", "v"))
            .groupBy(*keys, "cid", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        updated = (
            per_dim.select(*keys, "cid", "dim", F.expr("(s - (s % n)) div n").alias("cm"))
            .groupBy(*keys, "cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "cm"))).alias("_dm"))
            .select(*keys, "cid", F.expr("transform(_dm, x -> x.cm)").alias("cvec"))
        )
        centroids = (
            centroids.alias("old")
            .join(updated.alias("new"), [*keys, "cid"], "left")
            .select(
                *keys,
                "cid",
                F.coalesce(F.col("new.cvec"), F.col("old.cvec")).alias("cvec"),
            )
        )
    return centroids


def _ivf(
    embeddings: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    train_bp: int = 10000,
    train_cap: int | None = TRAIN_CAP,
) -> tuple[DataFrame, DataFrame]:
    """(points, centroids): the quantized corpus as its one-subspace
    (vec_id, svec) stream and the (cid, cvec) IVF centroids trained on it."""
    points = _one_subspace(quantized(embeddings))
    return points, _lloyd(points, k, iters, train_bp, train_cap)


def _probes(centroids: DataFrame, queries: DataFrame, nprobe: int) -> DataFrame:
    """(q_id, q, cid): each query's probe list — the ``nprobe`` centroids
    nearest it, ordered by (qd, cid). The (q_id, q) query side broadcasts
    onto the k centroids and each query's k (qd, cid) pairs are sorted
    inside one aggregate: no window, so one query and a batch plan alike.
    The query vector rides along, so scoring needs no second query join."""
    qd = F.struct(_sqdist(F.col("cvec"), F.col("q")).alias("qd"), F.col("cid"))
    return (
        centroids.crossJoin(F.broadcast(queries))
        .groupBy("q_id", "q")
        .agg(F.slice(F.array_sort(F.collect_list(qd)), 1, nprobe).alias("_p"))
        .select("q_id", "q", F.explode("_p.cid").alias("cid"))
    )


def _probed(
    points: DataFrame, centroids: DataFrame, queries: DataFrame, nprobe: int
) -> DataFrame:
    """(q_id, vec_id, dist): the vectors of each query's probe lists,
    scored exactly against it — nprobe/k of the corpus per query, reached
    by one broadcast join (no corpus shuffle)."""
    return (
        _assign(points, centroids)
        .join(F.broadcast(_probes(centroids, queries, nprobe)), "cid")
        .select("q_id", "vec_id", _sqdist(F.col("svec"), F.col("q")).alias("dist"))
    )


def _top_per_query(scored: DataFrame, topk: int) -> DataFrame:
    """The ``topk`` rows of each q_id by (dist, vec_id): one q_id-partitioned
    window over a (q_id, vec_id, dist) stream."""
    rank = F.row_number().over(Window.partitionBy("q_id").orderBy("dist", "vec_id"))
    return scored.withColumn("_rn", rank).filter(F.col("_rn") <= topk).drop("_rn")


def _batch_queries(points: DataFrame, query_pred: Column) -> DataFrame:
    """(q_id, q): every vector matching ``query_pred`` as a query."""
    return points.filter(query_pred).select(
        F.col("vec_id").alias("q_id"), F.col("svec").alias("q")
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    train_bp: int = 10000,
    train_cap: int | None = TRAIN_CAP,
) -> DataFrame:
    """(cid, cvec): the IVF centroids — the shared Lloyd trainer
    (:func:`_lloyd`) over the one-subspace stream of the quantized corpus.

    Training is BOUNDED BY DEFAULT: unless ``train_bp`` < 10000 requests
    an explicit hash-sample rate, ``train_cap`` (default 10⁵ vectors)
    bounds the Lloyd scan via :func:`bounded_training`; only ASSIGNMENT
    touches every row (one broadcast-join scan, handled by the callers).
    ``train_cap=None`` restores full-corpus training.
    """
    return _ivf(embeddings, k, iters, train_bp, train_cap)[1]


def ivf_assignments(
    embeddings: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    train_bp: int = 10000,
    train_cap: int | None = TRAIN_CAP,
) -> DataFrame:
    """The IVF index: (vec_id, cid, dist) — every vector's inverted-list
    assignment under the learned centroids. All-integer output → value-exact
    oracle for the entire k-means. Training is capped at ``train_cap``
    vectors by default (``train_bp`` < 10000 requests an explicit sample
    rate instead) while still assigning EVERY vector — the 100 TB shape:
    bounded training scan, full assignment."""
    points, centroids = _ivf(embeddings, k, iters, train_bp, train_cap)
    return _assign(points, centroids).select("vec_id", "cid", "dist")


def ivf_assign_with(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cid, dist) of quantized (vec_id, qvec) vectors under given
    (cid, cvec) centroids."""
    return _assign(_one_subspace(vecs), centroids).select("vec_id", "cid", "dist")


def ivf_topk(
    embeddings: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
    topk: int = TOPK,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` centroids nearest the query (the
    min-vec_id vector, deterministic), then exact top-k within those
    inverted lists only — the scan touches nprobe/k of the corpus instead
    of all of it. Output (vec_id, dist) is exact integer math."""
    points, centroids = _ivf(embeddings, k, iters)
    return (
        _probed(points, centroids, _query(points, q="svec"), nprobe)
        .select("vec_id", "dist")
        .orderBy("dist", "vec_id")
        .limit(topk)
    )


def ivf_batch_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
    topk: int = TOPK,
) -> DataFrame:
    """Batch ANN: every vector matching ``query_pred`` is a query, answered
    in ONE pass over the index — the shape of eval-set retrieval and
    semantic-dedup probes at scale.

    Plan: the query batch (broadcast-sized) picks its ``nprobe`` probe
    lists against the k-row centroid table; the corpus joins its inverted-
    list assignment to the broadcast probe set (no corpus shuffle), scores
    |Q| x nprobe/k of the corpus, and a per-query window takes top-k over
    that candidate stream only. Exact integer math end-to-end, same
    determinism contract as :func:`ivf_topk`.
    """
    points, centroids = _ivf(embeddings, k, iters)
    queries = _batch_queries(points, query_pred)
    return _top_per_query(_probed(points, centroids, queries, nprobe), topk)


def ivf_batch_recall(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
    topk: int = TOPK,
) -> DataFrame:
    """PER-QUERY recall@k of the IVF probe over a whole query batch —
    (q_id, n_hit, k, recall_at_k), one row per query. The single-query
    :func:`ivf_recall` measures one operating point; this is the eval-set
    version a deployment actually reads (mean/min recall over Q queries).

    Plan: centroids are collected to a literal (k rows — the only driver
    state) so the exact and approx branches share them without re-running
    Lloyd; the approx branch is the :func:`ivf_batch_topk` shape
    (broadcast probe join, no corpus shuffle), the exact branch scores
    |corpus|×Q via a broadcast query cross join and per-query windows.
    Every query reports: the approx branch is the left side of the join,
    and a query always lies in its own nearest list, which is always
    probed, so each query has approx rows (n_hit counts those that are
    also in its exact top-k)."""
    spark = embeddings.sparkSession
    points, trained = _ivf(embeddings, k, iters)
    centroids = spark.createDataFrame(trained.collect(), trained.schema)
    queries = _batch_queries(points, query_pred)
    exact = _top_per_query(
        points.crossJoin(F.broadcast(queries)).select(
            "q_id", "vec_id", _sqdist(F.col("svec"), F.col("q")).alias("dist")
        ),
        topk,
    ).select("q_id", "vec_id", F.lit(1).alias("is_rel"))
    approx = _top_per_query(
        _probed(points, centroids, queries, nprobe), topk
    ).select("q_id", "vec_id")
    return (
        approx.join(exact, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("is_rel", F.lit(0))).alias("n_hit"))
        .select(
            "q_id",
            "n_hit",
            F.lit(topk).alias("k"),
            F.round(F.col("n_hit") / F.lit(float(topk)), 6).alias("recall_at_k"),
        )
    )


def _probe_scored(
    embeddings: DataFrame, k: int, iters: int, nprobe: int
) -> tuple[DataFrame, DataFrame]:
    """Shared eval scaffolding: the corpus assigned and scored against the
    min-vec_id query ONCE (persisted — both the exact and the approx
    branch read it), plus the nprobe probe-list cids. Single source of
    truth for the probe/assignment logic the recall and NDCG evals (and
    their oracles) must agree on.

    Lifetime contract: the caller must materialize its final (tiny)
    result and then ``scored.unpersist()`` — see :func:`_finalize_eval` —
    otherwise each eval leaks a cached corpus-sized block in a long-lived
    session."""
    points, centroids = _ivf(embeddings, k, iters)
    query = _query(points, q="svec")
    scored = (
        _assign(points, centroids)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id", "cid", _sqdist(F.col("svec"), F.col("q")).alias("qd")
        )
        .persist()
    )
    return scored, _probes(centroids, query, nprobe).select("cid")


def _finalize_eval(result: DataFrame, scored: DataFrame) -> DataFrame:
    """Materialize a (single-row) eval result while ``scored`` is still
    cached, then release the corpus-sized cache. The 1-row result block
    stays persisted (negligible); if it is ever evicted the lineage simply
    recomputes without the cache."""
    out = result.persist()
    out.count()
    scored.unpersist()
    return out


def ivf_recall(
    embeddings: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
    topk: int = TOPK,
) -> DataFrame:
    """Recall@k of the IVF probe against exact search under the SAME
    quantized metric — the measurement every ANN deployment needs before
    trusting nprobe ("measure, don't guess" applied to the index itself).

    One index pass: the corpus is assigned and scored ONCE; the exact
    top-k (all inverted lists) and the approximate top-k (nprobe lists)
    are two TakeOrdered reductions over that shared scored stream.
    Output is a single row (n_hit, k, recall_at_k) — all-integer until
    the final rounded division, so the oracle is value-exact."""
    scored, probe_cids = _probe_scored(embeddings, k, iters, nprobe)
    exact = scored.orderBy("qd", "vec_id").limit(topk).select("vec_id")
    approx = (
        scored.join(F.broadcast(probe_cids), "cid")
        .orderBy("qd", "vec_id")
        .limit(topk)
        .select("vec_id")
    )
    result = approx.join(exact, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.lit(topk).alias("k"),
        F.round(F.count(F.lit(1)) / F.lit(float(topk)), 6).alias(
            "recall_at_k"
        ),
    )
    return _finalize_eval(result, scored)


def ivf_ndcg(
    embeddings: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
    topk: int = TOPK,
) -> DataFrame:
    """NDCG@k of the IVF probe against exact search (binary relevance:
    membership in the exact top-k). Where recall@k ignores ORDER, NDCG
    weights each hit by 1/log2(position+1) — a probe that finds the right
    vectors in the wrong order scores below one that ranks them correctly.

    Same one-pass shape as :func:`ivf_recall`; the per-position discount
    terms are rounded to 9 decimals and summed as exact DECIMAL so the
    k-term float sum is addition-order-independent (cross-engine + any
    partitioning)."""
    import math

    scored, probe_cids = _probe_scored(embeddings, k, iters, nprobe)
    exact = scored.orderBy("qd", "vec_id").limit(topk).select("vec_id")
    approx = scored.join(F.broadcast(probe_cids), "cid").orderBy(
        "qd", "vec_id"
    ).limit(topk)
    pos = F.row_number().over(Window.orderBy("qd", "vec_id"))
    ranked = approx.select("vec_id", pos.alias("pos"))
    # discount of a hit at position i: round(1/log2(i+1), 9), summed exact
    term = F.round(
        F.lit(1.0) / F.log(2.0, F.col("pos") + F.lit(1.0)), 9
    ).cast("decimal(28,9)")
    dcg = (
        ranked.join(exact, "vec_id")
        .agg(F.coalesce(F.sum(term), F.lit(0).cast("decimal(28,9)")).alias("_dcg"))
    )
    idcg = sum(round(1.0 / math.log2(i + 1), 9) for i in range(1, topk + 1))
    result = dcg.select(
        F.col("_dcg").cast("double").alias("dcg"),
        F.lit(topk).alias("k"),
        F.round(F.col("_dcg").cast("double") / F.lit(idcg), 6).alias(
            "ndcg_at_k"
        ),
    )
    return _finalize_eval(result, scored)


# --- late-interaction (MaxSim) retrieval -----------------------------------

MAXSIM_QUERIES = 4
MAXSIM_K = 5


def maxsim_topk(
    embeddings: DataFrame,
    n_queries: int = MAXSIM_QUERIES,
    k: int = MAXSIM_K,
    m: int = MAXSIM_M,
    subdim: int = MAXSIM_SUBDIM,
) -> DataFrame:
    """ColBERT-style late-interaction retrieval [Khattab & Zaharia 2020]:
    each vector decomposes into ``m`` contiguous subvectors (its
    "token embeddings"); a candidate's score for a query is
    MaxSim — Σ over query subvectors of the MAX dot product against any
    candidate subvector. Late interaction ranks by fine-grained partial
    matches a single pooled dot product averages away.

    (q_id, rank, vec_id, maxsim_score): top-``k`` per query, deterministic
    ties by vec_id. Float discipline: per-(query-subvector) maxima round
    at 9 and sum as exact DECIMAL (an 8-term double sum would be
    addition-order-dependent), score emitted at 6.

    Plan: per-row subvector explode on both sides, bounded query batch
    broadcast against one corpus-subvector scan, then two aggregates
    keyed by (query, candidate[, subvector]) and one per-query window —
    volume is queries × corpus × m², bounded by the query batch."""
    docs = split_subspaces(
        embeddings.select("vec_id", "embedding"), "embedding", m, subdim
    ).select("vec_id", F.col("svec").alias("dv"))
    queries = split_subspaces(
        embeddings.orderBy("vec_id")
        .limit(n_queries)
        .select(F.col("vec_id").alias("q_id"), "embedding"),
        "embedding",
        m,
        subdim,
    ).select("q_id", F.col("sub").alias("qsub"), F.col("svec").alias("qv"))
    scored = (
        docs.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "qsub",
            _dot(F.col("qv"), F.col("dv")).alias("dot"),
        )
    )
    per_qsub = scored.groupBy("q_id", "vec_id", "qsub").agg(
        F.max("dot").alias("mx")
    )
    per_pair = (
        per_qsub.select(
            "q_id",
            "vec_id",
            F.round("mx", 9).cast("decimal(28,9)").alias("mx"),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("mx").cast("double").alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        per_pair.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            F.col("rnk").alias("rank"),
            "vec_id",
            F.round("score", 6).alias("maxsim_score"),
        )
    )


SQ8_LEVELS = 255  # 8-bit code range [0, 255]
SQ8_REFINE_FACTOR = 4  # candidates kept per final result before exact rerank


def sq8_dim_stats(embeddings: DataFrame) -> list[tuple[float, float]]:
    """Per-dimension (min, range) over the corpus — the SQ8 codebook.

    posexplode → groupBy(dim) is one map-side-combined aggregate whose
    shuffle is |dims| rows per map task; the collect is bounded driver
    state (|dims| pairs — same posture as the IVF/PQ centroid collects).
    Constant dimensions get range 1.0 so every vector quantizes to code 0
    there (contributing nothing to any score) instead of dividing by zero.
    """
    rows = (
        embeddings.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .collect()
    )
    stats = sorted((r["dim"], r["mn"], r["mx"]) for r in rows)
    return [(mn, (mx - mn) if mx > mn else 1.0) for _, mn, mx in stats]


def _sq8_codes(emb: Column, stats: list[tuple[float, float]]) -> Column:
    """Quantize a float vector to int codes: round((x − min)·255 / range).
    Written as ((x − mn) * 255.0) / rng — the exact association the DuckDB
    oracle uses, so the doubles (hence the rounded codes) are bit-identical.
    """
    mins = F.array(*[F.lit(float(mn)) for mn, _ in stats])
    rngs = F.array(*[F.lit(float(rng)) for _, rng in stats])
    diffs = F.zip_with(emb, mins, lambda x, m: x.cast("double") - m)
    return F.zip_with(
        diffs, rngs, lambda d, r: F.round(d * F.lit(255.0) / r, 0).cast("long")
    )


def sq8_topk(
    embeddings: DataFrame, k: int = TOPK, refine_factor: int = SQ8_REFINE_FACTOR
) -> DataFrame:
    """Scalar-quantized (SQ8) top-k with exact rerank — the third rung of
    the quantization ladder (sign-LSH 1 bit/dim → SQ8 8 bits/dim → PQ
    sub-byte/dim): per-dimension min/max affine quantization to 8-bit
    codes, integer-dot-product candidate scoring at 4× less memory
    traffic than float32, then exact cosine on the top
    ``k·refine_factor`` candidates only.

    Scale shape: the codebook is 2·|dims| doubles (broadcast literal);
    scoring is a single scan with an integer fold (JVM codegen, no UDF);
    both top-k cuts are sort+limit (TakeOrderedAndProject — no global
    sort materialization). Integer scores make the candidate cut
    engine-exact, so unlike float-scored ANN the operator is fully
    value-hash oracle-checkable end to end.
    """
    stats = sq8_dim_stats(embeddings)
    space = normalized(embeddings).withColumn(
        "_codes", _sq8_codes(F.col("embedding"), stats)
    )
    q = _query(space, q_codes="_codes", q_vec="_nemb")
    score = F.aggregate(
        F.zip_with(F.col("_codes"), F.col("q_codes"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        space.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("vec_id", "_nemb", "q_vec", score.alias("score_sq8"))
        .orderBy(F.desc("score_sq8"), F.asc("vec_id"))
        .limit(k * refine_factor)
    )
    return (
        cand.select(
            "vec_id",
            "score_sq8",
            F.round(_dot(F.col("_nemb"), F.col("q_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


RP_OUT_DIM = 8  # Johnson-Lindenstrauss target dimensionality
RP_REFINE_FACTOR = 4


def rp_signs(in_dim: int, out_dim: int = RP_OUT_DIM) -> list[list[float]]:
    """Deterministic ±1 random-projection matrix (out_dim × in_dim):
    sign(i, j) = parity of the cross-engine md5 hash32 of "i|j" (1-based
    dims) — the same bits the oracle derives in SQL, so the matrix is a
    pure function of dimensions, identical everywhere, and never needs to
    be stored or shipped."""
    import hashlib

    def sign(i: int, j: int) -> float:
        h = int(hashlib.md5(f"{i}|{j}".encode()).hexdigest()[:8], 16)
        return 1.0 if h % 2 == 0 else -1.0

    return [
        [sign(i, j) for i in range(1, in_dim + 1)]
        for j in range(1, out_dim + 1)
    ]


def rp_project(embeddings: DataFrame, out_dim: int = RP_OUT_DIM) -> DataFrame:
    """Append ``_rp``: the embedding projected to ``out_dim`` dims by the
    deterministic ±1 matrix (Johnson-Lindenstrauss: sign projections
    preserve dot products in expectation with variance 1/out_dim).

    Scale shape: the matrix is an (out_dim × in_dim) literal — broadcast
    with the plan, no join, no state table; each projection component is
    a sequential JVM fold over the input array (bit-reproducible, mirrors
    the oracle's list_reduce), so the whole step fuses into the scan.

    Note: the input dimensionality is probed from one row at plan-build
    time (an eager 1-row job, like the n-gram guard's estimate) — the
    embeddings contract is fixed-width vectors, the same assumption the
    IVF/PQ/SQ8 codebooks make. An empty corpus projects to empty sketches
    (no crash, no job output)."""
    first = embeddings.select("embedding").first()
    if first is None:
        return ensure_compute_parallelism(embeddings).withColumn(
            "_rp", F.array().cast("array<double>")
        )
    in_dim = len(first["embedding"])
    sign_rows = [
        F.array(*[F.lit(s) for s in row]) for row in rp_signs(in_dim, out_dim)
    ]
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("embedding"), row, lambda x, r: x.cast("double") * r
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for row in sign_rows
        ]
    )
    return ensure_compute_parallelism(embeddings).withColumn("_rp", proj)


def rp_topk(
    embeddings: DataFrame,
    k: int = TOPK,
    out_dim: int = RP_OUT_DIM,
    refine_factor: int = RP_REFINE_FACTOR,
) -> DataFrame:
    """Random-projection ANN: candidate scoring in the out_dim-dimensional
    sketch (a 4-8× cheaper dot product than full precision; the JL bound
    makes high-cosine neighbors keep high sketch scores), exact cosine
    rerank on the top k·refine_factor only — the dimensionality-REDUCTION
    rung of the compression ladder, complementing the quantization rungs
    (sign-LSH / SQ8 / PQ) which shrink precision, not dimensionality.

    Candidate scores round at 6 decimals with vec_id tie-breaks, so the
    cut is deterministic and the operator value-hash oracle-checkable."""
    space = normalized(rp_project(embeddings, out_dim))
    q = _query(space, q_rp="_rp", q_vec="_nemb")
    cand = (
        space.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            "_nemb",
            "q_vec",
            F.round(_dot(F.col("_rp"), F.col("q_rp")), 6).alias("rp_score"),
        )
        .orderBy(F.desc("rp_score"), F.asc("vec_id"))
        .limit(k * refine_factor)
    )
    return (
        cand.select(
            "vec_id",
            "rp_score",
            F.round(_dot(F.col("_nemb"), F.col("q_vec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )
