"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the brief:
* brute-force cosine top-k — the exactness baseline; cost |Q|·|C|·d, fine when
  the query set is small and the candidate side is scanned once;
* LSH-bucketed ANN — sign-bit buckets on fixed hyperplanes, so only same-bucket
  pairs are scored: the 100 TB path (bucket column is precomputable and
  partition-prunable at write time).

Determinism: dot products and norms are computed as an *ordered left fold* over
the dimension index (``F.aggregate`` over a zipped product array, double
accumulator).  IEEE addition in a fixed order is bit-deterministic, which makes
cosine scores reproducible across runs/engines — no epsilon tolerances needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _fold_sum(arr: Column) -> Column:
    """Ordered left fold Σ (bit-deterministic, unlike SUM over a shuffle)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """⟨a,b⟩ with per-element promotion to double before multiplication."""
    return _fold_sum(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    )


def norm_sq(a: Column) -> Column:
    return _fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(norm_sq(a)) * F.sqrt(norm_sq(b)))


def norm(a: Column) -> Column:
    """√⟨a,a⟩ — precompute this ONCE per side before a pairwise join: cosine()
    recomputes both norms per pair (3 folds over the dimension per pair);
    ``dot(a,b) / (na * nb)`` with precomputed norms does 1 fold per pair and
    is bit-identical (same float ops, just not repeated)."""
    return F.sqrt(norm_sq(a))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the candidate scan,
    then per-query top-k via row_number (tie-broken on candidate id)."""
    from pyspark.sql import Window as W

    q = queries.select(
        F.col(id_col).alias(qid_col),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = embeddings.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col(qid_col))
        .withColumn("cosine", dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn")))
    )
    w = W.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, "cid", "cosine", "rn")
    )


def sign_lsh_bucket(vec: Column, dims: tuple[int, ...] = (1, 17, 33, 49)) -> Column:
    """Sign-bit LSH bucket key from fixed coordinate hyperplanes.

    Axis-aligned hyperplanes keep the bucket function engine-portable (no
    random projection matrix to ship) — this is the oracle-checkable variant.
    For recall-tuned production buckets use ``random_hyperplanes`` +
    ``sign_lsh_bucket_planes`` / ``multiprobe_buckets`` below.
    """
    bits = [
        F.when(F.element_at(vec, d) >= 0, F.lit("1")).otherwise(F.lit("0")) for d in dims
    ]
    return F.concat(*bits)


def random_hyperplanes(n_planes: int, dim: int, seed: int = 13) -> list[list[float]]:
    """Seeded Gaussian hyperplanes for sign-LSH (SimHash for cosine).

    Generated driver-side and embedded as plan literals, so the bucket
    function ships with the plan — no side-channel state, deterministic
    across runs and executors (RandomState pins the generator algorithm)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def _plane_dots(vec: Column, planes: list[list[float]]) -> list[Column]:
    return [dot(vec, F.array(*[F.lit(x) for x in p])) for p in planes]


def _bit(d: Column, flip: bool = False) -> Column:
    hi, lo = ("0", "1") if flip else ("1", "0")
    return F.when(d >= 0, F.lit(hi)).otherwise(F.lit(lo))


def sign_lsh_bucket_planes(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket key = sign bits of the vector against each hyperplane."""
    return F.concat(*[_bit(d) for d in _plane_dots(vec, planes)])


def multiprobe_buckets(vec: Column, planes: list[list[float]], n_probes: int) -> Column:
    """Query-adaptive multiprobe: the exact bucket plus the (n_probes-1)
    buckets reached by flipping the lowest-|margin| sign bits — the bits most
    likely to differ for a true neighbor sitting near a hyperplane.  Returns
    an array of bucket keys; candidates stay single-bucket, so probing
    multiplies only the (small) query side of the bucket join."""
    dots = _plane_dots(vec, planes)
    n_bits = len(planes)
    exact = F.concat(*[_bit(d) for d in dots])
    if n_probes <= 1:
        return F.array(exact)
    flips = [
        F.struct(
            F.abs(dots[i]).alias("m"),
            F.concat(*[_bit(dots[j], flip=(j == i)) for j in range(n_bits)]).alias("b"),
        )
        for i in range(n_bits)
    ]
    by_margin = F.transform(F.array_sort(F.array(*flips)), lambda s: s["b"])
    return F.concat(F.array(exact), F.slice(by_margin, 1, min(n_probes - 1, n_bits)))


def ann_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    planes: list[list[float]] | None = None,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's LSH bucket.

    The bucket equi-join replaces the cross join — at scale, candidates are
    pre-bucketed (partitioned/bucketed table) so each query touches one bucket.

    Recall knobs: ``planes`` (from ``random_hyperplanes``) replaces the fixed
    axis-aligned bits — more planes = finer buckets; ``n_probes`` expands each
    query to its exact bucket plus the lowest-margin bit-flip buckets
    (``multiprobe_buckets``), recovering neighbors that landed one sign bit
    away.  Candidate volume per query ≈ |corpus| · n_probes / 2^n_planes, so
    doubling planes and probes together keeps volume flat while recall rises.
    The default (no planes, single probe) is the engine-portable
    oracle-checked variant."""
    from pyspark.sql import Window as W

    if planes is None:
        if n_probes != 1:
            raise ValueError("multi-probe requires explicit hyperplanes (pass planes=...)")
        q_bucket = sign_lsh_bucket(F.col(vec_col))
        c_bucket = sign_lsh_bucket(F.col(vec_col))
        multi = False
    else:
        q_bucket = F.explode(multiprobe_buckets(F.col(vec_col), planes, n_probes))
        c_bucket = sign_lsh_bucket_planes(F.col(vec_col), planes)
        multi = n_probes > 1
    q = queries.select(
        F.col(id_col).alias(qid_col),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
        q_bucket.alias("bucket"),
    )
    c = embeddings.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
        c_bucket.alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("cid") != F.col(qid_col))
    if multi:
        # a candidate can match the same query via several probed buckets;
        # dedup (qid, cid) before scoring so each pair is scored once
        pairs = pairs.drop("bucket").dropDuplicates([qid_col, "cid"])
    scored = pairs.withColumn(
        "cosine", dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
    )
    w = W.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, "cid", "cosine", "rn")
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``n_probes`` nearest
    centroids (max cosine, centroid-id tie-break).  Candidates use n_probes=1
    (each vector lives in exactly one inverted list); the query side raises it
    to probe several lists.  Centroids are a tiny broadcast side; at scale the
    top-1 assignment is a write-time column and the posting lists are
    partition-pruned."""
    from pyspark.sql import Window as W

    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        embeddings.select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("vn"))
        .crossJoin(F.broadcast(c))
        .withColumn("c_cos", dot(F.col(vec_col), F.col("cvec")) / (F.col("vn") * F.col("cn")))
    )
    w = W.partitionBy(id_col).orderBy(F.col("c_cos").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probes)
        .select(id_col, vec_col, "centroid_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    n_probes: int = 1,
) -> DataFrame:
    """IVF ANN top-k: candidates are coarse-quantized into one inverted list
    each; every query scores the vectors in its ``n_probes`` nearest lists.
    Raising n_probes multiplies candidate volume by ~n_probes and recall
    approaches exact as n_probes → |centroids| — the standard IVF trade.  The
    operator shape (quantize → list equi-join → rank) is the scale path for
    embedding search when sign-LSH buckets are too coarse.  Pairs are unique
    by construction (a candidate lives in exactly one list), so no dedup is
    needed after the join."""
    from pyspark.sql import Window as W

    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    q = ivf_assign(queries, centroids, id_col, vec_col, n_probes=n_probes).select(
        F.col(id_col).alias(qid_col),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
        "centroid_id",
    )
    c = assigned.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
        "centroid_id",
    )
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("cid") != F.col(qid_col))
        .withColumn("cosine", dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn")))
    )
    w = W.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(qid_col, "cid", "cosine", "rn")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, cosine > threshold),
    restricted to same-LSH-bucket pairs — the blocked (not all-pairs) variant."""
    a = embeddings.select(
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
        norm(F.col(vec_col)).alias("n1"),
        sign_lsh_bucket(F.col(vec_col)).alias("bucket"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
        norm(F.col(vec_col)).alias("n2"),
        sign_lsh_bucket(F.col(vec_col)).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")))
        .filter(F.col("cosine") > threshold)
        .select("id1", "id2", "cosine")
    )


# --------------------------------------------------------------------------- #
# Product quantization (PQ) — the third ANN tier: compress each vector into   #
# m byte codes (here 8 sub-codes over 64 dims = 8 bytes vs 256 float32 bytes, #
# 32×), then answer queries with asymmetric distance computation (ADC): one   #
# 16-entry lookup table per (query, subspace), approximate distance = sum of  #
# table hits — a full-corpus scan that touches only bytes, the memory shape   #
# that lets a 100 TB embedding corpus live in RAM (Jégou et al. 2011, public  #
# paper).  Codebooks here are seeded from fixed corpus samples so the whole   #
# pipeline stays engine-portable and oracle-exact; production would train     #
# them offline with kmeans_fit (below pq_train) and broadcast the             #
# (m × 16 × d/m) codebook exactly the same way.                               #
# --------------------------------------------------------------------------- #


def l2_sq(a: Column, b: Column) -> Column:
    """Ordered-fold squared L2 distance (no libm: (x−y)·(x−y), not pow)."""
    return _fold_sum(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
    )


def pq_subvectors(
    df: DataFrame, m: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, sub, svec) rows: the vector split into ``m`` contiguous subspaces."""
    d_sub = F.size(F.col(vec_col)) / m  # plan-time constant per fixture
    subs = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub")
    out = df.select(F.col(id_col), F.col(vec_col), subs)
    return out.select(
        id_col,
        "sub",
        F.slice(
            F.col(vec_col), (F.col("sub") * d_sub + 1).cast("int"), d_sub.cast("int")
        ).alias("svec"),
    )


def pq_codebook(embeddings: DataFrame, seed_ids: tuple[int, int], m: int) -> DataFrame:
    """(sub, code, cvec): codewords = subvectors of the fixed seed rows
    ``seed_ids`` (inclusive range); code = seed offset.  16 seeds → 4-bit
    codes.  Tiny by construction (m × n_seeds rows) — always broadcast."""
    lo, hi = seed_ids
    seeds = embeddings.filter(F.col("vec_id").between(lo, hi))
    return pq_subvectors(seeds, m).select(
        "sub", (F.col("vec_id") - lo).cast("int").alias("code"), F.col("svec").alias("cvec")
    )


def pq_encode(embeddings: DataFrame, codebook: DataFrame, m: int) -> DataFrame:
    """(vec_id, sub, code): nearest codeword per subspace (argmin L2², ties to
    the smaller code — MAX/MIN-of-struct argmin, engine-deterministic).  The
    codebook side is broadcast; the scan is map-side — encoding is a single
    pass over the corpus and the codes are writable as 1-byte columns."""
    sv = pq_subvectors(embeddings, m)
    scored = sv.join(F.broadcast(codebook), "sub").select(
        "vec_id", "sub", F.struct(l2_sq("svec", "cvec").alias("d"), "code").alias("dc")
    )
    return scored.groupBy("vec_id", "sub").agg(
        F.min("dc").getField("code").alias("code")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    m: int,
    k: int = 5,
) -> DataFrame:
    """ADC top-k: per (query, subspace) a 16-entry LUT of exact sub-distances
    to every codeword, then approximate distance per candidate = ordered-fold
    sum of its codes' LUT hits.  The candidate side carries ONLY (vec_id,
    sub, code) — at scale the precomputed code table IS the index."""
    enc = pq_encode(embeddings, codebook, m)
    qsv = pq_subvectors(queries, m).withColumnRenamed("vec_id", "qid")
    lut = qsv.join(F.broadcast(codebook), "sub").select(
        "qid", "sub", "code", l2_sq("svec", "cvec").alias("d")
    )
    hits = enc.join(F.broadcast(lut), ["sub", "code"]).select(
        "qid", F.col("vec_id").alias("cid"), "sub", "d"
    )
    adist = F.aggregate(
        F.array_sort(F.collect_list(F.struct("sub", "d"))),
        F.lit(0.0),
        lambda acc, x: acc + x.getField("d"),
    )
    scored = (
        hits.groupBy("qid", "cid")
        .agg(adist.alias("approx_dist"))
        .filter(F.col("cid") != F.col("qid"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.col("approx_dist").asc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "approx_dist", "rn")
    )


def pq_train(
    embeddings: DataFrame, seed_ids: tuple[int, int], m: int, iters: int = 3
) -> DataFrame:
    """Train the PQ codebooks: per-subspace Lloyd iterations (assign every
    subvector to its nearest codeword, recenter each codeword on the mean of
    its assignments; empty codewords keep their previous value).  Assignment
    is the same broadcast map-side pass as pq_encode; recentering is one
    (sub, code, dim) aggregation — per iteration cost is O(corpus), the same
    as encoding, so training on a sample and broadcasting the result is the
    production shape.  The codebook is a model parameter (m × 16 tiny rows):
    it is materialized on the driver between iterations exactly like k-means
    centroids (kmeans_fit below), keeping the lineage flat."""
    spark = embeddings.sparkSession
    cb = pq_codebook(embeddings, seed_ids, m)
    sv = pq_subvectors(embeddings, m)
    for _ in range(iters):
        enc = pq_encode(embeddings, cb, m)
        dims = sv.join(enc, ["vec_id", "sub"]).select(
            "sub", "code", F.posexplode("svec").alias("i", "v")
        )
        new = (
            dims.groupBy("sub", "code", "i")
            .agg(F.avg("v").alias("mv"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("i", "mv"))).alias("pairs"))
            .select(
                "sub",
                "code",
                F.transform("pairs", lambda p: p.getField("mv").cast("float")).alias("cvec"),
            )
        )
        merged = (
            cb.withColumnRenamed("cvec", "old")
            .join(new, ["sub", "code"], "left")
            .select("sub", "code", F.coalesce("cvec", "old").alias("cvec"))
        )
        cb = spark.createDataFrame(merged.collect(), merged.schema)
    return cb


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    max_iters: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Full spherical k-means training loop (Lloyd's): the registered
    ``embedding_kmeans_iteration`` query is ONE step of this; here the step
    runs to convergence (no assignment changes) with the same distributed
    shape — broadcast centroids for assignment, one shuffle per iteration
    for the per-dimension means, driver coordinating rounds only (the
    GraphX/Pregel superstep pattern, like connected components).

    Deterministic: init = the k lowest-``id_col`` vectors; assignment ties
    break on centroid id; convergence is an integer count (vectors whose
    assignment changed).  Empty clusters keep their previous centroid.
    A registry-tracked eager ``localCheckpoint`` truncates lineage each
    round, and round r-1's blocks are freed once round r is materialized
    (the bounded-storage contract of connected_components); the returned
    assignments and centroids stay pinned until the caller's
    ``sources.registry.release_snapshots``.

    Returns ``(assignments, centroids, n_iters)`` — assignments as
    (id, centroid_id), centroids as (centroid_id, vec) with double
    components.
    """
    from pyspark.sql import Window as W

    from airflow_cms_inpatient_etl_spark.sources.registry import (
        release_snapshots,
        tracked_localcheckpoint,
    )

    spark = embeddings.sparkSession
    centroids, c_ids = tracked_localcheckpoint(
        embeddings.orderBy(id_col)
        .limit(k)
        .select(
            F.row_number().over(W.orderBy(id_col)).alias("centroid_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(vec_col),
        ),
        eager=True,
    )
    assignments, a_ids = None, frozenset()
    for it in range(1, max_iters + 1):
        new_assign, new_a_ids = tracked_localcheckpoint(
            ivf_assign(
                embeddings,
                centroids.withColumnRenamed("centroid_id", id_col),
                id_col,
                vec_col,
            ).select(F.col(id_col), "centroid_id"),
            eager=True,
        )
        if assignments is not None:
            changed = (
                new_assign.withColumnRenamed("centroid_id", "new_cid")
                .join(assignments, id_col)
                .filter(F.col("new_cid") != F.col("centroid_id"))
                .count()
            )
            if changed == 0:
                release_snapshots(spark, ids=new_a_ids)
                return assignments, centroids, it - 1
        release_snapshots(spark, ids=a_ids)  # round r-1 dead once r is compared
        assignments, a_ids = new_assign, new_a_ids
        member_dims = (
            embeddings.join(assignments, id_col)
            .select("centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
        )
        new_centroids = (
            member_dims.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias(vec_col)
            )
        )
        # empty clusters keep their previous centroid
        centroids, new_c_ids = tracked_localcheckpoint(
            centroids.select("centroid_id", F.col(vec_col).alias("__old"))
            .join(new_centroids, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col(vec_col), F.col("__old")).alias(vec_col),
            ),
            eager=True,
        )
        release_snapshots(spark, ids=c_ids)
        c_ids = new_c_ids
    return assignments, centroids, max_iters


def semdedup_assign_prune(
    e: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    target_cluster_size: int | None = None,
    tau: float = 0.28,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023 shape), cluster-blocked.

    Assign every vector to its nearest of ``k`` deterministic seed centroids
    (the k smallest ids — broadcast, the centroid table is tiny), then prune,
    WITHIN each cluster only, any vector that has a smaller-id cluster-mate
    with cosine >= ``tau``.  The cluster id is the blocking key: candidate
    pairs come from a cluster-keyed equi-join, never an all-pairs cross join,
    so pair cost is Σ cluster_size².

    THE SCALE KNOB: pair cost with fixed k is O((n/k)²)·k — at corpus scale
    the centroid count must GROW with the corpus to keep clusters bounded.
    Pass ``target_cluster_size`` (the 100 TB mode) to derive
    k = max(1, n // target_cluster_size) from the corpus size (one scalar
    count — a model parameter, same contract as pagerank's node count), or
    pin ``k`` explicitly (the oracle-stability mode the registry query uses).
    Per-cluster pair volume is then ~target_cluster_size² regardless of n;
    the 10× canary asserts exactly that invariant.

    Cosines are fixed-order folds with per-side precomputed norms —
    bit-identical to an independent SQL oracle's inline cosine.
    """
    from pyspark.sql import Window as W

    if (k is None) == (target_cluster_size is None):
        raise ValueError("pass exactly one of k / target_cluster_size")
    if target_cluster_size is not None:
        n = e.count()
        if n == 0:
            raise ValueError("semdedup_assign_prune: empty input")
        k = max(1, n // target_cluster_size)
    cent = (
        e.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec"))
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        F.col(id_col),
        F.col(vec_col),
        "centroid_id",
        cosine(F.col(vec_col), F.col("cvec")).alias("cos_c"),
    )
    rn = F.row_number().over(
        W.partitionBy(id_col).orderBy(F.desc("cos_c"), "centroid_id")
    )
    # snapshot the assignment: three consumers (both pair-join sides + the
    # final projection) share one computation instead of re-deriving the
    # crossJoin+window each (Catalyst does not CSE sibling subplans); the
    # caller's sources.registry.release_snapshots frees it
    from airflow_cms_inpatient_etl_spark.sources.registry import snapshot

    a = snapshot(
        scored.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col(vec_col),
            norm(F.col(vec_col)).alias("vnorm"),
            F.col("centroid_id").alias("cluster_id"),
            "cos_c",
        )
    )
    x = a.select(
        "cluster_id",
        F.col(id_col).alias("x_id"),
        F.col(vec_col).alias("x_vec"),
        F.col("vnorm").alias("x_norm"),
    )
    y = a.select(
        "cluster_id",
        F.col(id_col).alias("y_id"),
        F.col(vec_col).alias("y_vec"),
        F.col("vnorm").alias("y_norm"),
    )
    pruned = (
        x.join(y, "cluster_id")
        .filter(F.col("x_id") < F.col("y_id"))
        .filter(
            dot(F.col("x_vec"), F.col("y_vec")) / (F.col("x_norm") * F.col("y_norm"))
            >= tau
        )
        .select(F.col("y_id").alias("pruned_id"))
        .distinct()
    )
    return a.join(pruned, a[id_col] == pruned.pruned_id, "left").select(
        F.col(id_col),
        "cluster_id",
        F.col("cos_c").alias("cosine_to_centroid"),
        F.col("pruned_id").isNotNull().alias("is_pruned"),
    )


# --------------------------------------------------------------------------- #
# SQ8 scalar quantization — the compressed-scan ANN tier                       #
# --------------------------------------------------------------------------- #


def sq8_stats(e: DataFrame, vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-dimension (lo, hi) training statistics for SQ8 scalar quantization,
    as ONE row holding two array columns.

    Computed as 2*dim MIN/MAX aggregates over element accessors — a single
    scan, no explode, and only the final 1-row combine crosses partitions.
    min/max are order-free and therefore exact; the row is a model parameter
    (same contract as a k-means centroid table) meant to be broadcast onto
    the quantization pass."""
    return e.groupBy().agg(
        F.array(
            *[F.min(F.element_at(F.col(vec_col), i + 1)) for i in range(dim)]
        ).alias("lo"),
        F.array(
            *[F.max(F.element_at(F.col(vec_col), i + 1)) for i in range(dim)]
        ).alias("hi"),
    )


def sq8_encode(
    e: DataFrame,
    stats: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "qcode",
) -> DataFrame:
    """Quantize ``vec_col`` to an ``array<bigint>`` of 8-bit codes in [0, 255].

    code[i] = FLOOR((x - lo[i]) / (hi[i] - lo[i]) * 255 + 0.5); a constant
    dimension (hi == lo) maps to midpoint 128.  FLOOR(+0.5) instead of ROUND
    keeps the grid engine-portable (Spark HALF_UP vs DuckDB tie rules never
    enter), and because lo/hi are global min/max the ratio is in [0, 1] so no
    clamp is needed.  The stats row is broadcast; encoding is a pure map
    stage.  At scale the code array is the STORED column: 64 B/vector vs
    256 B float32 — a 4x smaller scan for the coarse pass."""

    def _q(x, i):
        lo = F.element_at(F.col("lo"), i + 1).cast("double")
        hi = F.element_at(F.col("hi"), i + 1).cast("double")
        return (
            F.when(
                hi > lo,
                F.floor((x.cast("double") - lo) / (hi - lo) * 255.0 + 0.5).cast(
                    "bigint"
                ),
            )
            .otherwise(F.lit(128).cast("bigint"))
        )

    return (
        e.crossJoin(F.broadcast(stats))
        .withColumn(code_col, F.transform(F.col(vec_col), _q))
        .drop("lo", "hi")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Integer dot product of two code arrays — exact BIGINT in any engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda s, x: s + x,
    )


def sq8_steps(stats: DataFrame) -> DataFrame:
    """Per-dimension integer step sizes in MICRO-units:
    step[i] = FLOOR((hi[i] - lo[i]) / 255 * 1e6 + 0.5).

    The step vector is what makes the coarse score scale-aware: the
    dequantized centered value of code c in dimension i is
    (2c - 255) * step[i] / 2 micro-units = x - (lo+hi)/2 up to quantization
    error, so integer dot products of these z-values rank like true
    (centered) dot products.  Computed once from the stats row — still a
    broadcast model parameter."""
    return stats.select(
        "lo",
        "hi",
        F.transform(
            F.zip_with(
                "lo", "hi", lambda l, h: h.cast("double") - l.cast("double")
            ),
            lambda d: F.floor(d / 255.0 * 1000000.0 + 0.5).cast("bigint"),
        ).alias("step"),
    )


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_m: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
) -> DataFrame:
    """SQ8 two-stage ANN: coarse top-``coarse_m`` per query by INTEGER
    dequantized-centered dot product over the 8-bit codes, exact
    float-cosine rerank of only those candidates to top-``k``.

    Coarse score: z[i] = (2·code[i] - 255) · step[i]  (micro-unit centered
    dequantization — see ``sq8_steps``; the raw code dot product would be
    dominated by the min-max shift and ranks near-randomly: measured 0.125
    recall@20 raw vs 1.0 with z-scoring on the fixture), and
    int_score = Σ z_q[i] · z_c[i], all BIGINT.  Overflow bound:
    |z| <= 255·max(step), so 64·(255·max_step)² < 2^63 requires
    max(hi-lo) < ~94 000 — any normalized or bounded embedding family is
    orders of magnitude inside it.

    Scale shape: the coarse stage scans the 4x-compressed byte-code column
    (z is derived on the fly from the broadcast step vector) with integer
    arithmetic — no float enters candidate selection, so the rerank set is
    bit-deterministic; full float vectors are touched for just
    |Q| · coarse_m rows, fetched by broadcasting the tiny winner set back
    against the vector table.  Both stages tie-break on candidate id.
    Returns (qid, cid, int_score, cosine, rn)."""
    from pyspark.sql import Window as W

    stats = sq8_steps(sq8_stats(embeddings, vec_col))
    steps = F.broadcast(stats.select("step"))

    def _z(df: DataFrame) -> DataFrame:
        return df.crossJoin(steps).withColumn(
            "z",
            F.zip_with(
                "qcode", "step", lambda c, st: (c * 2 - 255) * st
            ),
        ).drop("step", "qcode")

    enc = _z(sq8_encode(embeddings, stats.select("lo", "hi"), vec_col).select(id_col, "qcode"))
    qenc = _z(
        sq8_encode(queries, stats.select("lo", "hi"), vec_col).select(
            F.col(id_col).alias(qid_col), "qcode"
        )
    ).withColumnRenamed("z", "qz")
    coarse = (
        enc.crossJoin(F.broadcast(qenc))
        .filter(F.col(id_col) != F.col(qid_col))
        .select(
            qid_col,
            F.col(id_col).alias("cid"),
            int_dot(F.col("qz"), F.col("z")).alias("int_score"),
        )
    )
    wc = W.partitionBy(qid_col).orderBy(F.desc("int_score"), "cid")
    cand = coarse.withColumn("crn", F.row_number().over(wc)).filter(
        F.col("crn") <= coarse_m
    )
    qvec = queries.select(
        F.col(id_col).alias(qid_col), F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qn"),
    )
    cvec = embeddings.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cn"),
    )
    rer = (
        F.broadcast(cand.select(qid_col, "cid", "int_score"))
        .join(cvec, "cid")
        .join(F.broadcast(qvec), qid_col)
        .withColumn(
            "cosine",
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn")),
        )
    )
    wr = W.partitionBy(qid_col).orderBy(F.desc("cosine"), "cid")
    return (
        rer.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= k)
        .select(qid_col, "cid", "int_score", "cosine", "rn")
    )


def embedding_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    tau: float,
    train_id: str = "vec_id",
    train_vec: str = "v",
    eval_id: str = "eval_id",
    eval_vec: str = "w",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Pure eval-leakage gate (no fixture signal planting — bench queries and
    tests seed leakage in their own layer before calling this): flag every
    TRAIN vector whose max exact cosine against the EVAL set reaches ``tau``;
    emit per train vector the nearest eval id, the max cosine, and the
    contamination flag.  ``carry_cols`` are passthrough columns constant per
    train vector (e.g. an audit flag).

    Scale shape: the eval side of a decontamination pass is model-eval-sized
    by construction — it BROADCASTS, so the train corpus is one map-side pass
    with no train-sized exchange at all: the per-vector argmax folds map-side
    via max(struct(cosine, -eval_id)) partial aggregation (one row per train
    vector enters the exchange; the tie-break is exact because cosines are
    ordered folds).  For eval sets too large to broadcast, an LSH-bucketed
    prefilter (``ann_lsh_topk``) replaces the scoring join.
    """
    tr = train.withColumn("__vn", norm(F.col(train_vec)))
    evn = eval_df.select(
        eval_id, eval_vec, norm(F.col(eval_vec)).alias("__wn")
    )
    scored = tr.join(F.broadcast(evn)).withColumn(
        "__cosine",
        dot(F.col(train_vec), F.col(eval_vec)) / (F.col("__vn") * F.col("__wn")),
    )
    best = scored.groupBy(train_id, *carry_cols).agg(
        F.max(
            F.struct(F.col("__cosine"), (-F.col(eval_id)).alias("__neg_id"))
        ).alias("__m")
    )
    return best.select(
        train_id,
        *carry_cols,
        (-F.col("__m.__neg_id")).cast("long").alias("nearest_eval"),
        F.col("__m.__cosine").alias("max_cosine"),
        (F.col("__m.__cosine") >= tau).alias("is_contaminated"),
    )


def matryoshka_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    prefix_dim: int = 16,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
) -> DataFrame:
    """Matryoshka (MRL-style) two-stage retrieval: rank all candidates with
    the cosine over only the FIRST ``prefix_dim`` coordinates (nested-prefix
    embeddings concentrate signal in their leading dims), keep the top
    ``k*overfetch`` survivors per query, then rerank ONLY those survivors
    with the full-dimension cosine (tie-broken on candidate id at both
    stages, so the result is exact and deterministic given the prefix
    ranking).

    Scale shape: the full-d fold runs on ``k*overfetch`` rows per query
    instead of |C|; phase 1 touches ``prefix_dim/d`` of the vector floats —
    with a columnar layout that stores the prefix as its own column, the
    full vector column is never scanned for the losers (Parquet column
    pruning does this for free).  Phase 1 is a map-side broadcast scoring
    pass (one |C|-sized exchange on qid for the per-query heap); compose
    with IVF/LSH buckets (``ivf_topk`` / ``ann_lsh_topk``) to also bound
    the phase-1 candidate count at 100 TB.
    """
    from pyspark.sql import Window as W

    pq = F.slice(F.col(vec_col), 1, prefix_dim)
    q = queries.select(
        F.col(id_col).alias(qid_col),
        F.col(vec_col).alias("qvec"),
        pq.alias("qpre"),
        norm(pq).alias("qpn"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = embeddings.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cvec"),
        pq.alias("cpre"),
        norm(pq).alias("cpn"),
        norm(F.col(vec_col)).alias("cn"),
    )
    pre_w = W.partitionBy(qid_col).orderBy(F.col("prefix_cosine").desc(), F.col("cid"))
    survivors = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col(qid_col))
        # A valid full vector can still have an all-zero prefix (norm 0 over
        # the first prefix_dim coords); under the ANSI session even double
        # division raises on /0, so define that cosine as 0.0 (mirrored by a
        # CASE in the sim_matryoshka_topk oracle).
        .withColumn(
            "prefix_cosine",
            F.when(F.col("qpn") * F.col("cpn") == 0, F.lit(0.0)).otherwise(
                dot(F.col("qpre"), F.col("cpre")) / (F.col("qpn") * F.col("cpn"))
            ),
        )
        .withColumn("prn", F.row_number().over(pre_w))
        .filter(F.col("prn") <= k * overfetch)
    )
    full_w = W.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        survivors.withColumn(
            "cosine", dot(F.col("qvec"), F.col("cvec")) / (F.col("qn") * F.col("cn"))
        )
        .withColumn("rn", F.row_number().over(full_w))
        .filter(F.col("rn") <= k)
        .select(qid_col, "cid", "cosine", "rn")
    )


def kcenter_select(
    embeddings: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, float]]:
    """Gonzalez greedy k-center: start from the minimum id, then repeatedly
    select the vector FARTHEST (squared L2, exact ordered fold) from the
    already-selected set, ties toward the smallest id.  The classic 2-approx
    coreset / diversity-sampling primitive (pick maximally-spread seeds for
    annotation, eval, or centroid init).  Returns [(sel_rank, id, radius)]
    where radius is the pick's distance-to-selected-set at selection time
    (rank 0 → 0.0) — the k-th radius IS the covering radius bound.

    Determinism: every distance is a fixed-order fold over exact doubles and
    the argmax is tie-broken on id, so the trajectory is bit-reproducible —
    an inherently-sequential greedy algorithm that still hash-matches an
    unrolled SQL oracle.

    Scale shape: the algorithm is k SEQUENTIAL passes by nature (each pick
    depends on the last).  Per step: broadcast ONE 64-float center literal,
    fold it into a running per-vector d_min column (map-side `least`), and
    take a 1-row argmax (TakeOrdered — no global sort); the driver touches k
    single rows, never the corpus (the pagerank-count style of legitimate
    coordination).  The d_min recurrence accumulates k map-side stages on one
    cached scan — at production k (hundreds) re-snapshot d_min on the graph
    operators' cadence."""
    picks: list[tuple[int, int, float]] = []
    first = (
        embeddings.select(id_col, vec_col).orderBy(id_col).limit(1).first()
    )
    picks.append((0, first[id_col], 0.0))
    center = F.array(*[F.lit(float(x)) for x in first[vec_col]])
    cur = embeddings.select(
        F.col(id_col), F.col(vec_col), l2_sq(F.col(vec_col), center).alias("dmin")
    )
    for rank in range(1, k):
        row = cur.orderBy(F.col("dmin").desc(), F.col(id_col)).limit(1).first()
        picks.append((rank, row[id_col], float(row["dmin"])))
        center = F.array(*[F.lit(float(x)) for x in row[vec_col]])
        cur = cur.select(
            F.col(id_col),
            F.col(vec_col),
            F.least(F.col("dmin"), l2_sq(F.col(vec_col), center)).alias("dmin"),
        )
    return picks


def residualize(
    assigned: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, centroid_id, embedding=residual) rows: subtract each vector's
    coarse centroid elementwise (both sides promoted to double BEFORE the
    subtract — float-minus-float then promote diverges a ulp across
    engines).  The residual inherits the vector column name so the PQ
    machinery (`pq_subvectors`/`pq_codebook`/`pq_encode`) composes on it
    unchanged."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cvec")
    )
    return assigned.join(F.broadcast(c), "centroid_id").select(
        id_col,
        "centroid_id",
        F.zip_with(
            F.col(vec_col),
            F.col("__cvec"),
            lambda x, y: x.cast("double") - y.cast("double"),
        ).alias(vec_col),
    )


def ivfpq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    seed_ids: tuple[int, int],
    m: int = 8,
    k: int = 3,
) -> DataFrame:
    """IVF-PQ with residual encoding — the production composite ANN index
    (what FAISS `IVFx,PQy` builds): coarse-quantize every vector into an
    inverted list (`ivf_assign`), PQ-encode the RESIDUAL vector − centroid
    (residuals are far smaller in norm than raw vectors, so the same
    codebook budget quantizes them much more accurately), then answer
    queries with ADC restricted to the query's own list — distances between
    residuals in a shared list equal distances between the original vectors
    (exactly, in real arithmetic) because the common centroid cancels: ‖q−x‖ = ‖(q−c)−(x−c)‖.

    Scale shape: the index is (vec_id, centroid_id, sub, code) — byte codes
    plus a list id, partition-prunable by list and scanned without touching
    floats; the codebook and per-query LUTs broadcast; the only corpus-sized
    exchange is the (list, sub, code) equi-join.  nprobe=1 here; raising it
    multiplies candidates exactly as in `ivf_topk`."""
    from pyspark.sql import Window as W

    assigned = ivf_assign(embeddings, centroids)
    res = residualize(assigned, centroids)
    cb = pq_codebook(res, seed_ids, m)
    enc = pq_encode(res, cb, m).join(
        res.select("vec_id", "centroid_id"), "vec_id"
    )
    q_res = residualize(ivf_assign(queries, centroids), centroids)
    qsv = pq_subvectors(q_res, m).withColumnRenamed("vec_id", "qid")
    lut = (
        qsv.join(F.broadcast(cb), "sub")
        .join(
            q_res.select(F.col("vec_id").alias("qid"), "centroid_id"), "qid"
        )
        .select("qid", "centroid_id", "sub", "code", l2_sq("svec", "cvec").alias("d"))
    )
    hits = enc.join(F.broadcast(lut), ["centroid_id", "sub", "code"]).select(
        "qid", F.col("vec_id").alias("cid"), "sub", "d"
    )
    adist = F.aggregate(
        F.array_sort(F.collect_list(F.struct("sub", "d"))),
        F.lit(0.0),
        lambda acc, x: acc + x.getField("d"),
    )
    scored = (
        hits.groupBy("qid", "cid")
        .agg(adist.alias("approx_dist"))
        .filter(F.col("cid") != F.col("qid"))
    )
    w = W.partitionBy("qid").orderBy(F.col("approx_dist").asc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "cid", "approx_dist", "rn")
    )
