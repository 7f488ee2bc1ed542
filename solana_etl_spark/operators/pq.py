"""Product quantization (PQ) for ANN at memory scale [Jégou, Douze,
Schmid, TPAMI 2011] — the compression half of the IVF+PQ index every
billion-vector ANN system runs.

IVF (`operators/similarity.py`) prunes the SEARCH (probe a few inverted
lists); PQ compresses the STORAGE: a dim-64 float vector becomes M=8
one-byte codes (one nearest-sub-centroid id per 8-dim subspace), a 64×
memory cut, and queries score candidates with an Asymmetric Distance
Computation (ADC): per-subspace lookup table of query-to-sub-centroid
distances, approximate distance = sum of M table entries.

The coarse quantizer and the sub-quantizers are the same k-means, so this
module owns no k-means of its own: it runs similarity.py's vector-index
core with M subspaces instead of one — ``split_subspaces`` cuts vectors
into (sub, svec) rows, ``_lloyd`` trains all M codebooks as ONE job keyed
by (sub, cid) with the shared training-set policy, ``_assign`` encodes,
and the IVF variants reuse ``_probes`` and the one ``_query`` pick (the
query is picked once by TakeOrdered, then split into subspaces). What is
PQ's own is the ADC step, :func:`_adc_topk`. Everything runs on the same
scaled-int64 quantization as IVF, so codebooks, codes and ADC scores are
exact integer arithmetic — value-hash oracle-checkable.

Spark shapes (100 TB / 10^9-vector corpus):

* subspace split = one per-row explode into M (sub, svec) rows — no
  shuffle; each Lloyd round is one broadcast-assign scan + one narrow
  (sub, cid, dim) partial-sum shuffle.
* codebook = M*K rows → always broadcast; encoding is an embarrassingly
  parallel scan. Training is bounded by default (``train_cap``) or runs on
  a hash sample (``train_bp``) — codebook quality needs ~10^5 vectors,
  assignment is the full pass.
* ADC = broadcast the M*K distance table, one scan summing M array
  lookups per row, global top-k via TakeOrdered. No shuffle of vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from solana_etl_spark.operators.similarity import (
    IVF_NPROBE,
    TRAIN_CAP,
    _assign,
    _ivf,
    _lloyd,
    _probed,
    _probes,
    _query,
    _sqdist,
    quantized,
    split_subspaces,
)

PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (M * SUBDIM = embedding dim 64)
PQ_K = 16  # codes per codebook
PQ_ITERS = 2  # fixed Lloyd rounds (SQL-unrollable)
PQ_TOPK = 10


def subvectors(embeddings: DataFrame, m: int = PQ_M, subdim: int = PQ_SUBDIM) -> DataFrame:
    """(vec_id, sub, svec): the quantized vector split into m contiguous
    subspaces. Pure per-row explode — zero shuffle."""
    return split_subspaces(quantized(embeddings), "qvec", m, subdim)


def pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    train_bp: int = 10000,
    train_cap: int | None = TRAIN_CAP,
) -> DataFrame:
    """(sub, cid, cvec): m codebooks of k sub-centroids — the shared Lloyd
    trainer over the m-subspace stream. ``train_bp`` < 10000 trains on the
    vec_id hash-sample; otherwise ``train_cap`` bounds the training set.
    At 100 TB only ENCODING (``pq_codes``) touches every row."""
    return _lloyd(subvectors(embeddings, m, subdim), k, iters, train_bp, train_cap)


def train_codebooks(
    subs: DataFrame,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    train_cap: int | None = TRAIN_CAP,
) -> DataFrame:
    """The shared Lloyd trainer over any (vec_id, sub, svec) stream — raw
    subvectors or IVF residual subvectors alike — bounded at ``train_cap``
    vectors (``None`` trains on the full input)."""
    return _lloyd(subs, k, iters, train_cap=train_cap)


def _codes(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, sub, code): each subvector's nearest sub-centroid id."""
    return _assign(subs, codebooks).select("vec_id", "sub", F.col("cid").alias("code"))


def _adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    topk: int,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
) -> DataFrame:
    """(vec_id, adc_dist): the ADC search. ``queries`` is (q) for one
    query, or (cid, q) for one query residual per probed list; the table
    holds the squared distance of each query subvector to every
    sub-centroid of its subspace, and every table column but the distance
    is a join key onto ``codes``. The table broadcasts, each candidate
    sums its M lookups, and TakeOrdered cuts the global top-k by
    (adc_dist, vec_id)."""
    qsubs = split_subspaces(queries, "q", m, subdim)
    keys = [c for c in qsubs.columns if c != "svec"] + ["code"]
    table = (
        codebooks.select("sub", F.col("cid").alias("code"), "cvec")
        .join(F.broadcast(qsubs), "sub")
        .select(*keys, _sqdist(F.col("svec"), F.col("cvec")).alias("d"))
    )
    return (
        codes.join(F.broadcast(table), keys)
        .groupBy("vec_id")
        .agg(F.sum("d").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(topk)
    )


def pq_codes(embeddings: DataFrame, codebooks: DataFrame | None = None) -> DataFrame:
    """(vec_id, codes): the PQ-encoded corpus — m small ints per vector
    (the 64× memory cut). One broadcast-assign scan + one (vec_id) regroup
    to pack codes into subspace order."""
    cb = codebooks if codebooks is not None else pq_codebooks(embeddings)
    return (
        _codes(subvectors(embeddings), cb)
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("_sc"))
        .select("vec_id", F.expr("transform(_sc, x -> x.code)").alias("codes"))
    )


def pq_adc_topk(embeddings: DataFrame, topk: int = PQ_TOPK) -> DataFrame:
    """ADC search: approximate top-k nearest (by PQ distance) to the query
    (= the min-vec_id vector, matching the IVF query convention). Returns
    (vec_id, adc_dist) ordered by (adc_dist, vec_id).

    The query is picked once by TakeOrdered and split into subspaces; the
    per-subspace query-to-centroid distance table (m*k rows) joins
    broadcast-side; the scan sums m lookups per row and TakeOrdered
    resolves the global top-k without a full sort."""
    cb = pq_codebooks(embeddings)
    query = _query(quantized(embeddings), q="qvec").select("q")
    return _adc_topk(_codes(subvectors(embeddings), cb), query, cb, topk)


def ivfpq_topk(
    embeddings: DataFrame,
    topk: int = PQ_TOPK,
    nprobe: int | None = None,
) -> DataFrame:
    """The composed billion-vector index: IVF coarse probe × PQ scoring.

    IVF prunes the candidate set to ``nprobe`` inverted lists (scan
    touches nprobe/k of the corpus); PQ's ADC table scores ONLY those
    candidates from their codes — no full-precision vector is read at
    query time, which is the whole point at 10^9 vectors (the corpus
    resident set is codes + assignments, 9 bytes/vector). This variant
    encodes raw vectors (not residuals): simpler, and every stage stays
    exact-integer → value-hash oracle-able end to end.

    Plan: centroids (k rows) and the probe list broadcast; candidates =
    assignment ⋈ probe (broadcast semi); ADC = candidates' codes ⋈
    broadcast M*K table, sum, TakeOrdered."""
    nprobe = IVF_NPROBE if nprobe is None else nprobe
    points, centroids = _ivf(embeddings)
    query = _query(points, q="svec")
    candidates = _probed(points, centroids, query, nprobe).select("vec_id")
    cb = pq_codebooks(embeddings)
    codes = _codes(subvectors(embeddings), cb).join(
        F.broadcast(candidates), "vec_id", "left_semi"
    )
    return _adc_topk(codes, query.select("q"), cb, topk)


def ivfpq_residual_topk(
    embeddings: DataFrame,
    topk: int = PQ_TOPK,
    nprobe: int | None = None,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """IVF+PQ with RESIDUAL encoding — the canonical Jégou et al. 2011
    form: PQ codebooks train on (vector − assigned coarse centroid), not
    raw vectors, so the codes spend their precision on the within-list
    displacement instead of re-encoding what the list id already says.
    At query time each probed list c gets its own ADC table built from the
    QUERY'S residual against c.

    Everything stays exact-integer (residual of int64s is int64), so the
    full composed index remains value-hash oracle-able — the property the
    raw-vector :func:`ivfpq_topk` variant was originally chosen for.

    Plan shape: residual = assignment ⋈ broadcast(centroids) zip_with (one
    scan); codebooks = the shared (sub)-keyed Lloyd loop; ADC tables =
    nprobe·M·K rows, still a broadcast; candidate scoring = codes ⋈
    broadcast tables on (cid, sub, code), sum, TakeOrdered. The corpus
    shuffles zero times outside the codebook training rounds.
    """
    nprobe = IVF_NPROBE if nprobe is None else nprobe
    spark = embeddings.sparkSession
    # the centroid set and codebooks are the ONLY driver state (k and m*k
    # rows) — collect them to literals so the many consumers below don't
    # each re-execute the full Lloyd lineage
    points, trained = _ivf(embeddings)
    centroids = spark.createDataFrame(trained.collect(), trained.schema)
    cvecs = F.broadcast(centroids)
    assigned = _assign(points, centroids)
    residuals = assigned.join(cvecs, "cid").select(
        "vec_id",
        "cid",
        F.zip_with("svec", "cvec", lambda x, y: x - y).alias("rvec"),
    )
    rsubs = split_subspaces(residuals, "rvec", m, subdim).select("vec_id", "sub", "svec")
    cb_trained = train_codebooks(rsubs, k, iters)
    cb = spark.createDataFrame(cb_trained.collect(), cb_trained.schema)

    probes = _probes(centroids, _query(points, q="svec"), nprobe)
    # per-probed-list query residual, split into subspaces
    qres = probes.join(cvecs, "cid").select(
        "cid", F.zip_with("q", "cvec", lambda x, y: x - y).alias("q")
    )
    candidates = assigned.join(F.broadcast(probes), "cid").select("vec_id", "cid")
    codes = _codes(rsubs, cb).join(F.broadcast(candidates), "vec_id")
    return _adc_topk(codes, qres, cb, topk, m, subdim)
