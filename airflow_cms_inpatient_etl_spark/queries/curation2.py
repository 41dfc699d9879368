"""Round-5 curation/scale extension queries: sequence-prep chunking, weighted
sampling, source-precedence dedup, map-side entropy scoring, count-min heavy
hitters, integer PageRank, and SemDeDup-style cluster-blocked embedding
pruning.

Shared design rule: every query is (a) expressible as one declarative plan
with zero Python stages, and (b) *portably deterministic* — hashes are the
60-bit md5-prefix construction, iterative math is integer-scaled, float
reductions are fixed-order folds — so each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.graph import kcore_peel, pagerank_integer
from airflow_cms_inpatient_etl_spark.operators.sketch import cms_build, cms_estimate
from airflow_cms_inpatient_etl_spark.operators.stages import temperature_mixture, top_k_per_group
from airflow_cms_inpatient_etl_spark.queries.base import fill_doc, register
from airflow_cms_inpatient_etl_spark.operators.text import hash60
from airflow_cms_inpatient_etl_spark.queries.similarity import _cosine
from airflow_cms_inpatient_etl_spark.sources.registry import load_table, snapshot

# --------------------------------------------------------------------------- #
# doc_chunk_overlap — fixed-size token windows with overlap                    #
# --------------------------------------------------------------------------- #

_CHUNK = 40
_STRIDE = 30


@register(
    "doc_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    s AS (
        SELECT doc_id, w, UNNEST(RANGE(0, LEN(w), {_STRIDE})) AS start_tok
        FROM t
    )
    SELECT doc_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(LEN(w[start_tok + 1 : start_tok + {_CHUNK}]) AS BIGINT) AS chunk_tokens,
           ARRAY_TO_STRING(w[start_tok + 1 : start_tok + {_CHUNK}], ' ') AS chunk_text
    FROM s
    """,
)
def doc_chunk_overlap(spark, sf_dir):
    """Sequence prep: split each document into 40-token chunks with
    10-token overlap (stride 30) — the sliding-window
    chunking an LLM training pipeline applies before packing.  One narrow
    map stage: tokenize once, explode the (n_tokens/stride) start offsets,
    slice — no shuffle, no Python, output partitioning inherits the scan."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    chunks = toks.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(F.lit(0), F.size("w") - 1, F.lit(_STRIDE))
        ).alias("start_tok"),
    )
    sl = F.slice(F.col("w"), F.col("start_tok") + 1, _CHUNK)
    return chunks.select(
        "doc_id",
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(sl).cast("long").alias("chunk_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------- #
# weighted_corpus_sample — deterministic weight-biased top-K                   #
# --------------------------------------------------------------------------- #

_SAMPLE_K = 100


@register(
    "weighted_corpus_sample",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang, source, n_chars,
               CAST('0x' || SUBSTR(MD5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   // n_chars AS priority
        FROM documents
    ),
    k AS (
        SELECT * FROM s ORDER BY priority, doc_id LIMIT {_SAMPLE_K}
    )
    SELECT doc_id, lang, source, n_chars, priority,
           ROW_NUMBER() OVER (ORDER BY priority, doc_id) AS sample_rank
    FROM k
    """,
)
def weighted_corpus_sample(spark, sf_dir):
    """Deterministic weighted sampling (exponential-race shape): each doc
    draws a 60-bit portable md5 hash h and races with integer priority
    h div weight — larger weights (here n_chars, standing in for a quality
    score) win proportionally more often, yet the draw is a pure function
    of doc_id, so the sample is stable across runs, engines, and
    repartitionings.  All-integer priorities sidestep pow/log cross-engine
    ULP drift.  The global top-K is TakeOrderedAndProject (per-partition
    heaps merged on the driver — no global sort, no single-task shuffle);
    only the K survivors see the tiny rank window."""
    d = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string"), seed="wsamp:")
    top = (
        d.select("doc_id", "lang", "source", "n_chars")
        .withColumn("h", h)
        .withColumn("priority", F.expr("h div n_chars"))
        .drop("h")
        .orderBy("priority", "doc_id")
        .limit(_SAMPLE_K)
    )
    return top.withColumn(
        "sample_rank",
        F.row_number().over(Window.orderBy("priority", "doc_id")).cast("long"),
    )


# --------------------------------------------------------------------------- #
# dedup_source_precedence — keep-best-copy by source priority                  #
# --------------------------------------------------------------------------- #


@register(
    "dedup_source_precedence",
    oracle="""
    WITH f AS (
        SELECT doc_id, source, lang,
               MD5(ARRAY_TO_STRING(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')[1:3], ' '))
                   AS fingerprint,
               CAST(SUBSTR(source, 4) AS INT) AS src_priority
        FROM documents
    )
    SELECT doc_id, source, lang, fingerprint,
           CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS group_size,
           (ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY src_priority, doc_id) = 1)
               AS keep
    FROM f
    """,
)
def dedup_source_precedence(spark, sf_dir):
    """Cross-source dedup with precedence: when several sources carry the
    same content (fingerprint = md5 of the first 3 normalized tokens),
    keep the copy from the most-trusted source (lowest numeric source id;
    doc_id tiebreak) and flag the rest — the "CommonCrawl copy loses to
    the curated copy" rule every multi-source corpus needs.  One shuffle
    on the fingerprint; both window functions share it."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(F.slice(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 3), " ")
    )
    w = Window.partitionBy("fingerprint")
    return (
        d.select(
            "doc_id",
            "source",
            "lang",
            fp.alias("fingerprint"),
            # substring-to-END (no length arg) mirrors the oracle's
            # SUBSTR(source, 4) exactly — a fixed length would silently
            # truncate source ids longer than it
            F.expr("substring(source, 4)").cast("int").alias("src_priority"),
        )
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "keep",
            F.row_number().over(w.orderBy("src_priority", "doc_id")) == 1,
        )
        .drop("src_priority")
    )


# --------------------------------------------------------------------------- #
# text_entropy_quality — zero-shuffle char-distribution scoring                #
# --------------------------------------------------------------------------- #

_ALPHABET = "abcdefghijklmnopqrstuvwxyz "  # fixed alphabet; rest → OTHER bucket


def _entropy_exprs() -> list[str]:
    """Shared Spark-SQL/DuckDB expression text for the per-doc char counts
    and fixed-order entropy fold.  Counting via LENGTH(REPLACE(...)) keeps
    the whole query map-side: no explode-per-char, no shuffle — at 100 TB
    that is the difference between a scan and a 100-trillion-row shuffle.
    The entropy sum runs over the alphabet in FIXED order (a..z, space,
    OTHER), so double addition order is identical on both engines."""
    n = "CAST(LENGTH(text) AS BIGINT)"
    cnts = [
        f"CAST(LENGTH(text) - LENGTH(REPLACE(text, '{c}', '')) AS BIGINT)"
        for c in _ALPHABET
    ]
    other = f"({n} - ({' + '.join(cnts)}))"
    all_cnts = cnts + [other]
    terms = " + ".join(
        f"(CASE WHEN {c} > 0 THEN ({c} / {n}) * LOG2({c} / {n}) ELSE 0.0 END)"
        for c in all_cnts
    )
    distinct = "(" + " + ".join(f"(CASE WHEN {c} > 0 THEN 1 ELSE 0 END)" for c in all_cnts) + ")"
    return [
        "doc_id",
        f"{n} AS n_chars_measured",
        f"{distinct} AS n_distinct_chars",
        f"ROUND(({cnts[-1]}) / {n}, 6) AS space_ratio",
        f"ROUND(-({terms}), 6) AS char_entropy",
        f"ROUND(CASE WHEN {distinct} > 1 THEN -({terms}) / LOG2({distinct}) "
        "ELSE 0.0 END, 6) AS entropy_norm",
    ]


@register(
    "text_entropy_quality",
    oracle="SELECT " + ",\n           ".join(_entropy_exprs()) + "\n    FROM documents",
)
def text_entropy_quality(spark, sf_dir):
    """Character-distribution quality scores: Shannon entropy over a fixed
    27-char alphabet (+ OTHER bucket), alphabet coverage, space ratio, and
    entropy normalized by log2(#distinct) — the compression-ratio proxy
    that separates natural text from boilerplate/garbage.  The identical
    expression text runs on both engines (``_entropy_exprs``), so the plan
    is pure codegen'd scalar expressions over the scan: zero shuffles, zero
    Python, column-pruned to (doc_id, text)."""
    return load_table(spark, sf_dir, "documents").selectExpr(*_entropy_exprs())


# --------------------------------------------------------------------------- #
# heavy_hitters_cms — count-min sketch vs exact, bound-checked                 #
# --------------------------------------------------------------------------- #

_CMS_DEPTH, _CMS_WIDTH = 4, 64


@register(
    "heavy_hitters_cms",
    oracle="""
    WITH e AS (
        SELECT CAST(props->>'k' AS BIGINT) AS item FROM events
    )
    SELECT item,
           CAST(COUNT(*) AS BIGINT) AS exact_count,
           TRUE AS est_ge_exact,
           TRUE AS within_bound
    FROM e WHERE item IS NOT NULL GROUP BY item
    """,
)
def heavy_hitters_cms(spark, sf_dir):
    """Count-min-sketch frequency estimation over the event property ``k``,
    accountability-checked against the exact counts in the same plan: the
    one-sided guarantee (estimate >= exact, always) and the width bound
    (excess <= 8N/width for all items at these seeds) are emitted as
    booleans the oracle asserts TRUE — the within-bound pattern that lets
    an approximate operator live under an exact correctness gate.  The
    sketch is a <=256-row cell table built in one shuffle and broadcast
    back for probing; at 100 TB the sketch build replaces a full per-key
    exact count with a 256-cell partial aggregate per partition."""
    # NULL items (absent/non-numeric props.k) are excluded EXPLICITLY on
    # both sides — an inner equi-join would drop them silently Spark-side
    # while the oracle's GROUP BY kept a NULL group
    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.get_json_object("props", "$.k").cast("long").alias("item"))
        .filter(F.col("item").isNotNull())
    )
    sketch = cms_build(ev, "item", _CMS_DEPTH, _CMS_WIDTH)
    exact = ev.groupBy("item").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(exact, sketch, "item", _CMS_DEPTH, _CMS_WIDTH)
    # N from the (tiny) exact aggregate — not a third scan of the fact table
    total = exact.agg(F.sum("exact_count").alias("n_total"))
    return (
        exact.join(est, "item")
        .crossJoin(F.broadcast(total))
        .select(
            "item",
            "exact_count",
            (F.col("cms_estimate") >= F.col("exact_count")).alias("est_ge_exact"),
            # FIXTURE COUPLING: 8N/width is an EMPIRICAL excess bound that
            # holds at the committed testdata + seed family, not the CMS
            # theoretical guarantee (which is probabilistic per row: excess
            # <= e·N/width w.p. 1-e^-depth per item).  est_ge_exact above is
            # the unconditional one-sided guarantee; if the fixture or hash
            # seeds are regenerated, re-derive this constant rather than
            # treating a flip as a sketch bug.
            (
                F.col("cms_estimate") - F.col("exact_count")
                <= F.expr(f"8 * n_total div {_CMS_WIDTH}")
            ).alias("within_bound"),
        )
    )


# --------------------------------------------------------------------------- #
# graph_pagerank — integer-scaled PageRank over event transitions              #
# --------------------------------------------------------------------------- #

_PR_ITERS = 6
_PR_SCALE = 10**12


def _unrolled_pagerank_oracle(count_cte: str, r0_rank: str, tele: str) -> str:
    """One oracle builder for BOTH PageRank variants — the transition-graph
    CTEs and the iteration recurrence are written once, so the global and
    personalized oracles cannot drift apart.  ``count_cte`` supplies the
    teleport-denominator CTE, ``r0_rank``/``tele`` the initial-rank and
    per-iteration teleport expressions (referencing it)."""
    scale, d = _PR_SCALE, 85
    parts = [
        f"""
    WITH ev AS (
        SELECT user_id, ts, event_id, CAST(props->>'k' AS BIGINT) AS node FROM events
    ),
    tr AS (
        SELECT node AS dst,
               LAG(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        FROM ev
    ),
    edges AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
        FROM tr WHERE src IS NOT NULL GROUP BY src, dst
    ),
    outd AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT node FROM ev),
    {count_cte},
    r0 AS (SELECT node, {r0_rank} AS rank FROM nodes)"""
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
    r{i} AS (
        SELECT nodes.node,
               {tele} + ({d} * COALESCE(CAST(SUM((r.rank * e.w) // o.wsum) AS BIGINT), 0)) // 100
                   AS rank
        FROM nodes
        LEFT JOIN edges e ON e.dst = nodes.node
        LEFT JOIN r{i - 1} r ON r.node = e.src
        LEFT JOIN outd o ON o.src = e.src
        GROUP BY nodes.node
    )"""
        )
    parts.append(f"\n    SELECT node, rank FROM r{_PR_ITERS}")
    return "".join(parts)


def _transition_graph(spark, sf_dir):
    """Shared Spark-side derivation of the event transition graph (the same
    definition the oracle CTEs encode): per-user (prev k -> k) transitions
    ordered by (ts, event_id).  Returns (tr, edges, nodes)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("node"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("node").alias("dst"), F.lag("node").over(w).alias("src")
    ).filter(F.col("src").isNotNull())
    edges = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    nodes = ev.select("node").distinct()
    return tr, edges, nodes


def _pagerank_oracle() -> str:
    scale = _PR_SCALE
    nref = "(SELECT n_nodes FROM n)"
    return _unrolled_pagerank_oracle(
        count_cte="n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes)",
        r0_rank=f"{scale} // {nref}",
        tele=f"(15 * ({scale} // {nref})) // 100",
    )


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """Weighted PageRank (6 iterations, d=0.85, sink-drop) over the event
    transition graph: nodes are the ``props.k`` ids, edges are consecutive
    (prev k -> k) transitions per user ordered by (ts, event_id).  Integer
    rank units (1e-12) make the iteration bit-reproducible, so a 6-deep
    iterative algorithm hash-matches an independently-unrolled SQL oracle —
    see ``operators.graph.pagerank_integer`` for the scale contract (one
    shuffle per iteration).  The fixed 6-iteration budget runs as one
    unrolled lazy plan over snapshotted edges/nodes: no per-round
    materialization jobs."""
    _, edges, nodes = _transition_graph(spark, sf_dir)
    return pagerank_integer(edges, nodes, n_iter=_PR_ITERS, scale=_PR_SCALE)


# --------------------------------------------------------------------------- #
# semdedup_prune — cluster-blocked embedding near-dup pruning                  #
# --------------------------------------------------------------------------- #

_SEM_K = 8       # centroid count (vec_id < 8 as deterministic seeds)
_SEM_TAU = 0.28  # within-cluster prune threshold


@register(
    "semdedup_prune",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings
        WHERE vec_id < {_SEM_K}
    ),
    scored AS (
        SELECT e.vec_id, e.embedding, centroid_id,
               {_cosine("e.embedding", "cvec")} AS cos_c
        FROM embeddings e, cent
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id AS cluster_id, cos_c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_c DESC, centroid_id) AS rn
        FROM scored
    ),
    a AS (SELECT * FROM assigned WHERE rn = 1),
    pruned AS (
        SELECT DISTINCT y.vec_id
        FROM a x JOIN a y
          ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
        WHERE {_cosine("x.embedding", "y.embedding")} >= {_SEM_TAU}
    )
    SELECT a.vec_id, a.cluster_id, a.cos_c AS cosine_to_centroid,
           (p.vec_id IS NOT NULL) AS is_pruned
    FROM a LEFT JOIN pruned p ON p.vec_id = a.vec_id
    """,
)
def semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023 shape), via
    ``operators.similarity.semdedup_assign_prune`` with the centroid count
    PINNED at k=8 for oracle stability (the vec_id<8 seeds of the SQL
    oracle are exactly the 8 smallest ids the operator picks).  The
    operator's corpus-scale mode derives k from ``target_cluster_size``
    instead — see its docstring and the 10× canary for the bounded
    per-cluster pair-volume invariant.  Cosines are fixed-order folds,
    bit-identical to the oracle."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        semdedup_assign_prune,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return semdedup_assign_prune(e, k=_SEM_K, tau=_SEM_TAU)


# --------------------------------------------------------------------------- #
# winsorize_quality_clip — percentile-clipped robust quality filtering         #
# --------------------------------------------------------------------------- #


@register(
    "winsorize_quality_clip",
    oracle="""
    WITH pct AS (
        SELECT lang,
               QUANTILE_CONT(n_chars, 0.05) AS p05,
               QUANTILE_CONT(n_chars, 0.95) AS p95
        FROM documents GROUP BY lang
    )
    SELECT doc_id, d.lang, n_chars, p05, p95,
           LEAST(GREATEST(CAST(n_chars AS DOUBLE), p05), p95) AS clipped_len,
           (n_chars < p05 OR n_chars > p95) AS is_outlier
    FROM documents d JOIN pct ON pct.lang = d.lang
    """,
)
def winsorize_quality_clip(spark, sf_dir):
    """Robust outlier handling for a quality signal: per-language exact p05/p95
    of document length (both engines interpolate lower+(upper-lower)·f on the
    sorted values, so the cut points are bit-identical), winsorized length,
    and an outlier flag — the clip step that keeps a handful of 100 MB pages
    from dominating a length-weighted sampler.  The percentile table is one
    row per language and rides a broadcast back onto the scan."""
    d = load_table(spark, sf_dir, "documents")
    pct = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("p05"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95"),
    )
    return d.join(F.broadcast(pct), "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        "p05",
        "p95",
        F.least(F.greatest(F.col("n_chars").cast("double"), F.col("p05")), F.col("p95")).alias(
            "clipped_len"
        ),
        ((F.col("n_chars") < F.col("p05")) | (F.col("n_chars") > F.col("p95"))).alias(
            "is_outlier"
        ),
    )


# --------------------------------------------------------------------------- #
# epoch_shuffle_order — deterministic sharded training order                   #
# --------------------------------------------------------------------------- #

_SHUFFLE_SEED = "epoch17:"
_N_SHARDS = 64


@register(
    "epoch_shuffle_order",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               CAST('0x' || SUBSTR(MD5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM documents
    )
    SELECT doc_id, hv % {_N_SHARDS} AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hv % {_N_SHARDS} ORDER BY hv, doc_id)
                AS BIGINT) AS order_in_shard
    FROM h
    """,
)
def epoch_shuffle_order(spark, sf_dir):
    """Deterministic epoch shuffle for training: the portable seeded hash
    assigns each doc a shard and a position within it, so the read order
    (shard-major, position-minor) is a pure function of (seed, doc_id) —
    reproducible across runs/engines and re-drawable per epoch by bumping
    the seed.  Sharding first is the scale shape: 64 independent
    window sorts instead of one global total order through a single task."""
    d = load_table(spark, sf_dir, "documents")
    hv = hash60(F.col("doc_id").cast("string"), seed=_SHUFFLE_SEED)
    w = Window.partitionBy("shard").orderBy("hv", "doc_id")
    return (
        d.select("doc_id")
        .withColumn("hv", hv)
        .withColumn("shard", F.pmod(F.col("hv"), F.lit(_N_SHARDS)))
        .withColumn("order_in_shard", F.row_number().over(w).cast("long"))
        .drop("hv")
    )


# --------------------------------------------------------------------------- #
# dedup_containment — asymmetric shingle containment (subset duplicates)       #
# --------------------------------------------------------------------------- #

_CONTAIN_TAU = 0.8
# Document-frequency cap on posting lists: a shingle shared by df documents
# contributes df² candidate pairs to the self-join, so one boilerplate shingle
# in a large fraction of the corpus is a single-key quadratic.  Capping bounds
# the per-shingle term at _CONTAIN_MAX_DF² — the same approximation contract
# the minhash/Jaccard siblings expose (operators/dedup.py cap_stop_shingles).
# a_size is recomputed AFTER the cap so containment = |A∩B|/|A| stays exact
# over the capped shingle universe (capping only the join side would silently
# deflate the numerator against an uncapped denominator).
_CONTAIN_MAX_DF = 100


def _containment_oracle() -> str:
    from airflow_cms_inpatient_etl_spark.queries.dedup import _SHINGLES_CTE

    return f"""
    WITH {_SHINGLES_CTE},
    keep AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) <= {_CONTAIN_MAX_DF}),
    exc AS (SELECT ex.doc_id, ex.h FROM ex JOIN keep USING (h)),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS a_size FROM exc GROUP BY doc_id),
    pr AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
        FROM exc a JOIN exc b ON a.h = b.h AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, inter, a_size, inter / a_size AS containment
    FROM pr JOIN sz ON sz.doc_id = pr.a_id
    WHERE inter / a_size >= {_CONTAIN_TAU}
    """


@register("dedup_containment", oracle=_containment_oracle())
def dedup_containment(spark, sf_dir):
    """Asymmetric near-dup detection: containment(A->B) = |shingles(A) ∩
    shingles(B)| / |shingles(A)| >= 0.8 catches SUBSET duplicates
    (a doc embedded in a longer one) that symmetric Jaccard misses — the
    quote-page / boilerplate-wrapper case.  Same inverted-index self-join as
    the Jaccard family: pairs come from shared shingle hashes (int64 posting
    lists) with hot shingles capped at df ≤ _CONTAIN_MAX_DF (bounding the
    worst posting list's pair cost at max_df²), never an all-pairs
    comparison.  Sizes are taken over the CAPPED universe so the reported
    containment is exact for the shingles actually joined."""
    from airflow_cms_inpatient_etl_spark.operators.dedup import cap_stop_shingles
    from airflow_cms_inpatient_etl_spark.operators.text import exploded_shingle_hashes

    d = load_table(spark, sf_dir, "documents")
    # three consumers (sizes + both join sides) read the posting lists —
    # snapshot them once (tracked lazy localCheckpoint, same contract as the
    # minhash operator's cache_shingles; registry.release_snapshots frees it)
    ex = snapshot(
        cap_stop_shingles(exploded_shingle_hashes(d, "doc_id", "text"), _CONTAIN_MAX_DF)
    )
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("a_size"))
    a = ex.select(F.col("doc_id").alias("a_id"), "h")
    b = ex.select(F.col("doc_id").alias("b_id"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("a_id") != F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "a_id"), "a_id")
        .withColumn("containment", F.col("inter") / F.col("a_size"))
        .filter(F.col("containment") >= _CONTAIN_TAU)
        .select("a_id", "b_id", "inter", "a_size", "containment")
    )


# --------------------------------------------------------------------------- #
# bloom_semijoin_lineitem — explicit runtime-filter semi join                  #
# --------------------------------------------------------------------------- #


@register(
    "bloom_semijoin_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    )
    """,
)
def bloom_semijoin_lineitem(spark, sf_dir):
    """Runtime-filter pattern made explicit: a 16 KiB Bloom filter built from
    the selective orders subset prunes lineitem MAP-SIDE (literal word-array
    bit tests, no shuffle) before the exact semi join removes the false
    positives.  The result is bit-equal to the plain semi join — no false
    negatives by construction — which is what lets a probabilistic structure
    sit under the exact oracle gate.  See ``operators.bloom`` for the 100 TB
    contract (probe shuffle volume drops to ~the matching fraction)."""
    from airflow_cms_inpatient_etl_spark.operators.bloom import bloom_semi_join

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    build = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey")
    return bloom_semi_join(li, build, "l_orderkey", "o_orderkey")


# --------------------------------------------------------------------------- #
# graph_triangle_count — clustering structure of the transition graph          #
# --------------------------------------------------------------------------- #


def _transition_edges_sql() -> str:
    """Shared CTE text: the directed (prev k -> k) transition edges per user,
    the same graph the PageRank query walks."""
    return """
    ev AS (
        SELECT user_id, ts, event_id, CAST(props->>'k' AS BIGINT) AS node FROM events
    ),
    tr AS (
        SELECT node AS dst,
               LAG(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        FROM ev
    )"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_transition_edges_sql()},
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM tr WHERE src IS NOT NULL AND src <> dst
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    member AS (
        SELECT x AS node FROM tri UNION ALL
        SELECT y FROM tri UNION ALL
        SELECT z FROM tri
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY node
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Per-node triangle counts over the undirected k-transition graph — the
    clustering-structure profile that complements PageRank (centrality) and
    connected components (reachability).  Canonical a<b<c enumeration via
    two equi-joins on the ordered edge list (each triangle found exactly
    once); at scale both joins shuffle on node ids and the edge list is the
    already-aggregated distinct pair set, orders of magnitude smaller than
    the event log."""
    tr, _, _ = _transition_graph(spark, sf_dir)
    tr = tr.filter(F.col("src") != F.col("dst"))
    und = tr.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    member = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return member.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


# --------------------------------------------------------------------------- #
# corpus_curation_v3 — the round-5 primitives composed end-to-end              #
# --------------------------------------------------------------------------- #

_V3_ENTROPY_GATE = 4.0
_V3_PER_LANG_K = 40


def _v3_oracle() -> str:
    ent_select = "SELECT " + ", ".join(_entropy_exprs()) + " FROM documents"
    return f"""
    WITH ent AS ({ent_select}),
    pct AS (
        SELECT lang,
               QUANTILE_CONT(n_chars, 0.05) AS p05,
               QUANTILE_CONT(n_chars, 0.95) AS p95
        FROM documents GROUP BY lang
    ),
    fp AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY MD5(ARRAY_TO_STRING(
                       STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')[1:3], ' '))
                   ORDER BY CAST(SUBSTR(source, 4) AS INT), doc_id) AS rn
        FROM documents
    ),
    gated AS (
        SELECT d.doc_id, d.lang, d.source, d.n_chars, ent.char_entropy,
               LEN(STRING_SPLIT_REGEX(TRIM(LOWER(d.text)), '\\s+')) AS n_tokens,
               CAST('0x' || SUBSTR(MD5('wsamp:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   // d.n_chars AS priority
        FROM documents d
        JOIN ent ON ent.doc_id = d.doc_id
        JOIN pct ON pct.lang = d.lang
        JOIN fp ON fp.doc_id = d.doc_id
        WHERE ent.char_entropy >= {_V3_ENTROPY_GATE}
          AND d.n_chars BETWEEN pct.p05 AND pct.p95
          AND fp.rn = 1
    ),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY priority, doc_id)
                       AS BIGINT) AS lang_rank
        FROM gated
    )
    SELECT doc_id, lang, source, n_chars, char_entropy, lang_rank,
           ((n_tokens - 1) // 30) + 1 AS n_chunks
    FROM ranked WHERE lang_rank <= {_V3_PER_LANG_K}
    """


@register("corpus_curation_v3", oracle=_v3_oracle())
def corpus_curation_v3(spark, sf_dir):
    """Round-5 curation composition — the snapshot pass that strings the new
    primitives together end-to-end: (1) the map-side char-entropy gate
    (garbage filter, >= 4.0 bits); (2) the per-language
    winsorize band (length within exact [p05, p95]); (3) source-precedence
    dedup (most-trusted copy survives); (4) the weighted deterministic
    per-language cap (top-40 by integer h/weight priority —
    quality-biased, rerun-stable); (5) overlap-chunk accounting for the
    survivors (chunks the packer will see, computed WITHOUT the explode:
    (n_tokens-1) div 30 + 1).  Shapes: ONE heavy scan computes every
    per-doc expression (entropy, fingerprint, tokens, hash) in a single
    projection — no doc_id self-joins re-reading the table; the only other
    scan is the 2-column percentile aggregate, broadcast back; then one
    fingerprint window shuffle and one per-lang rank window."""
    d = load_table(spark, sf_dir, "documents")
    tok_sql = "split(trim(lower(text)), '\\\\s+')"
    base = d.selectExpr(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        next(e for e in _entropy_exprs() if e.endswith("AS char_entropy")),
        f"md5(array_join(slice({tok_sql}, 1, 3), ' ')) AS fingerprint",
        "CAST(substring(source, 4) AS INT) AS src_priority",
        f"size({tok_sql}) AS n_tokens",
    ).withColumn("hv", hash60(F.col("doc_id").cast("string"), seed="wsamp:"))
    pct = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("p05"),
        F.percentile("n_chars", F.lit(0.95)).alias("p95"),
    )
    keep_rn = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy("src_priority", "doc_id")
    )
    gated = (
        base.withColumn("rn", keep_rn)
        .join(F.broadcast(pct), "lang")
        .filter(
            (F.col("char_entropy") >= _V3_ENTROPY_GATE)
            & (F.col("n_chars") >= F.col("p05"))
            & (F.col("n_chars") <= F.col("p95"))
            & (F.col("rn") == 1)
        )
        .withColumn("priority", F.expr("hv div n_chars"))
        .drop("p05", "p95", "rn", "hv", "fingerprint", "src_priority")
    )
    ranked = top_k_per_group(gated, "lang", ["priority", "doc_id"], _V3_PER_LANG_K)
    return ranked.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "char_entropy",
        F.col("rn").cast("long").alias("lang_rank"),
        F.expr("((n_tokens - 1) div 30) + 1").alias("n_chunks"),
    )


# --------------------------------------------------------------------------- #
# graph_personalized_pagerank — seed-anchored proximity ranking                #
# --------------------------------------------------------------------------- #

_PPR_SEED_MAX = 10  # seed set: nodes with id < 10


def _ppr_oracle() -> str:
    scale = _PR_SCALE
    nref = "(SELECT n_seeds FROM ns)"
    seed = f"node < {_PPR_SEED_MAX}"
    return _unrolled_pagerank_oracle(
        count_cte=(
            "ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_seeds "
            f"FROM nodes WHERE {seed})"
        ),
        r0_rank=f"CASE WHEN {seed} THEN {scale} // {nref} ELSE 0 END",
        tele=f"CASE WHEN nodes.{seed} THEN (15 * ({scale} // {nref})) // 100 ELSE 0 END",
    )


@register("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank: teleport mass restricted to a seed set (node
    ids < 10), so the stationary ranks measure proximity TO THE
    SEEDS — the related-items/related-users primitive recommendation and
    expansion queries build on.  Same integer-exact machinery as
    graph_pagerank (``operators.graph.pagerank_integer(seeds=...)``), so the
    6-iteration recurrence still hash-matches an unrolled SQL oracle."""
    _, edges, nodes = _transition_graph(spark, sf_dir)
    seeds = nodes.filter(F.col("node") < _PPR_SEED_MAX)
    return pagerank_integer(
        edges, nodes, n_iter=_PR_ITERS, scale=_PR_SCALE, seeds=seeds
    )


# --------------------------------------------------------------------------- #
# sim_incremental_ivf — daily-delta probe of a standing ANN index              #
# --------------------------------------------------------------------------- #


@register(
    "sim_incremental_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id BETWEEN 100 AND 107
    ),
    all_assign AS (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cosine("e.embedding", "c.cvec")} DESC,
                                           c.centroid_id) AS crn
        FROM embeddings e, cent c
    ),
    assigned AS (SELECT vec_id, embedding, centroid_id FROM all_assign WHERE crn = 1),
    q AS (SELECT vec_id AS qid, embedding AS qvec, centroid_id FROM assigned WHERE vec_id < 50),
    cand AS (SELECT vec_id AS cid, embedding AS cvec, centroid_id
             FROM assigned WHERE vec_id >= 50),
    scored AS (
        SELECT qid, cid, {_cosine("qvec", "cvec")} AS cosine
        FROM cand JOIN q USING (centroid_id) WHERE cid <> qid
    ),
    ranked AS (
        SELECT qid, cid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rn
        FROM scored
    )
    SELECT qid, cid, cosine, rn FROM ranked WHERE rn <= 3
    """,
)
def sim_incremental_ivf(spark, sf_dir):
    """Incremental ANN — the similarity-side twin of dedup_incremental_index:
    a DELTA batch (vec_id < 50, the day's new embeddings) probes the STANDING
    inverted lists (vec_id >= 50, coarse-quantized against the fixed
    centroids) for its top-3 standing neighbors.  Probe cost is O(delta ×
    list-occupancy), not O(corpus) — the daily-ingest shape where the corpus
    index persists and only the delta is scored.  (In a stateless oracle
    query the standing assignment is recomputed; in production it is the
    materialized, partition-pruned posting-list table.)"""
    from airflow_cms_inpatient_etl_spark.operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    standing = e.filter(F.col("vec_id") >= 50)
    delta = e.filter(F.col("vec_id") < 50)
    centroids = e.filter(F.col("vec_id").between(100, 107))
    return ivf_topk(standing, delta, centroids, k=3)


# --------------------------------------------------------------------------- #
# graph_kcore — cohesive-subgraph extraction over the transition graph         #
# --------------------------------------------------------------------------- #

_KCORE_K = 4       # minimum within-core degree
_KCORE_ROUNDS = 6  # fixed peel budget (sf0.01 fixpoint is 5 rounds)
_KCORE_MIN_W = 5   # edge weight threshold: keeps the graph sparse enough to peel


def _kcore_oracle() -> str:
    """Unrolled peel recurrence — same builder pattern as the pagerank
    oracle, one CTE pair (degree, alive) per round."""
    parts = [
        f"""
    WITH {_transition_edges_sql()},
    we AS (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, COUNT(*) AS w
        FROM tr WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2
    ),
    und AS (SELECT a, b FROM we WHERE w >= {_KCORE_MIN_W}),
    adj AS MATERIALIZED (SELECT a AS s, b AS t FROM und UNION ALL SELECT b, a FROM und),
    nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM adj),
    alive0 AS (SELECT node FROM nodes)"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
    deg{i} AS MATERIALIZED (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM adj
        WHERE s IN (SELECT node FROM alive{i - 1})
          AND t IN (SELECT node FROM alive{i - 1})
        GROUP BY s
    ),
    alive{i} AS MATERIALIZED (SELECT s AS node FROM deg{i} WHERE deg >= {_KCORE_K})"""
        )
    parts.append(
        f""",
    fdeg AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM adj
        WHERE s IN (SELECT node FROM alive{_KCORE_ROUNDS})
          AND t IN (SELECT node FROM alive{_KCORE_ROUNDS})
        GROUP BY s
    )
    SELECT n.node, (a.node IS NOT NULL) AS in_core,
           CAST(COALESCE(f.deg, 0) AS BIGINT) AS core_deg
    FROM nodes n
    LEFT JOIN alive{_KCORE_ROUNDS} a ON a.node = n.node
    LEFT JOIN fdeg f ON f.s = n.node"""
    )
    return "".join(parts)


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark, sf_dir):
    """k-core decomposition (k=4) of the weight-thresholded transition graph
    — the cohesive-subgraph primitive that complements PageRank (centrality)
    and triangles (local clustering): the surviving core is the maximal
    subgraph where every node keeps >= k within-core neighbors, the standard
    "dense interaction cluster" extractor.  Edges are transitions observed
    >= 5 times (the aggregated pair list, far smaller than the event log);
    peeling runs a fixed 6-round unrolled budget whose fixpoint at this
    fixture is round 5 — integer degrees make the whole recurrence
    hash-exact against the independently unrolled SQL oracle.  See
    ``operators.graph.kcore_peel`` for the scale contract (per-round cost
    tracks the shrinking live edge set)."""
    tr, _, _ = _transition_graph(spark, sf_dir)
    und = (
        tr.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _KCORE_MIN_W)
        .select("a", "b")
    )
    return kcore_peel(und, k=_KCORE_K, rounds=_KCORE_ROUNDS)


# --------------------------------------------------------------------------- #
# graph_jaccard_neighbors — structural node similarity with hub capping        #
# --------------------------------------------------------------------------- #

_JACC_HUB_CAP = 128  # max degree a node may have to serve as a wedge center
_JACC_MIN = 0.2      # emit pairs at or above this structural similarity


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {_transition_edges_sql()},
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM tr WHERE src IS NOT NULL AND src <> dst
    ),
    adj AS (
        SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b AS node, a AS nbr FROM und
    ),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY node),
    eligible AS (SELECT node FROM deg WHERE degree <= {_JACC_HUB_CAP}),
    capped AS (
        SELECT adj.node, adj.nbr FROM adj JOIN eligible e ON adj.nbr = e.node
    ),
    nsize AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_nbrs FROM capped GROUP BY node),
    wedge AS (
        SELECT c1.node AS a, c2.node AS b
        FROM capped c1 JOIN capped c2 ON c1.nbr = c2.nbr AND c1.node < c2.node
    ),
    inter AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common FROM wedge GROUP BY a, b)
    SELECT i.a, i.b, i.n_common, sa.n_nbrs AS deg_a, sb.n_nbrs AS deg_b,
           CAST(i.n_common AS DOUBLE) / (sa.n_nbrs + sb.n_nbrs - i.n_common) AS jaccard
    FROM inter i
    JOIN nsize sa ON i.a = sa.node
    JOIN nsize sb ON i.b = sb.node
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n_nbrs + sb.n_nbrs - i.n_common) >= {_JACC_MIN}
    """,
)
def graph_jaccard_neighbors(spark, sf_dir):
    """Structural node similarity: Jaccard overlap of (capped) neighbor sets
    over the undirected transition graph, found via wedge enumeration through
    shared neighbors — the role-equivalence primitive behind link prediction
    and entity-resolution blocking.  The same skew discipline as
    `dedup_containment` post-fix: nodes with degree > _JACC_HUB_CAP are
    excluded as wedge centers AND from the neighbor-set sizes, so each center
    contributes <= cap^2 candidate pairs (no hub quadratic) and
    |intersection|/|union| stays exact over the capped neighbor universe.
    Two aggregated shuffles (degree, wedge count) over the distinct-edge
    list."""
    tr, _, _ = _transition_graph(spark, sf_dir)
    und = (
        tr.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    eligible = deg.filter(F.col("degree") <= _JACC_HUB_CAP).select("node")
    capped = adj.join(
        eligible.withColumnRenamed("node", "nbr"), "nbr"
    ).select("node", "nbr")
    nsize = capped.groupBy("node").agg(F.count(F.lit(1)).alias("n_nbrs"))
    c1 = capped.select(F.col("node").alias("a"), "nbr")
    c2 = capped.select(F.col("node").alias("b"), "nbr")
    inter = (
        c1.join(c2, "nbr")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = nsize.select(F.col("node").alias("a"), F.col("n_nbrs").alias("deg_a"))
    sb = nsize.select(F.col("node").alias("b"), F.col("n_nbrs").alias("deg_b"))
    jacc = F.col("n_common").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_common")
    )
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= _JACC_MIN)
        .select("a", "b", "n_common", "deg_a", "deg_b", "jaccard")
    )


# --------------------------------------------------------------------------- #
# graph_modularity — partition-quality scoring of a labeled community split    #
# --------------------------------------------------------------------------- #


@register(
    "graph_modularity",
    oracle=f"""
    WITH {_transition_edges_sql()},
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM tr WHERE src IS NOT NULL AND src <> dst
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM und),
    labeled AS (
        SELECT a, b, a // 10 AS ca, b // 10 AS cb FROM und
    ),
    intra AS (
        SELECT ca AS community, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM labeled WHERE ca = cb GROUP BY ca
    ),
    adj AS (
        SELECT a AS node, a // 10 AS community FROM und
        UNION ALL SELECT b, b // 10 FROM und
    ),
    deg AS (
        SELECT community, CAST(COUNT(*) AS BIGINT) AS d_c FROM adj GROUP BY community
    )
    SELECT d.community, COALESCE(i.e_c, 0) AS e_c, d.d_c, t.m_edges,
           CAST(COALESCE(i.e_c, 0) AS DOUBLE) / t.m_edges
             - (CAST(d.d_c AS DOUBLE) / (2 * t.m_edges))
               * (CAST(d.d_c AS DOUBLE) / (2 * t.m_edges)) AS q_contrib
    FROM deg d LEFT JOIN intra i ON d.community = i.community
    CROSS JOIN m t
    """,
)
def graph_modularity(spark, sf_dir):
    """Newman modularity evaluator: given a community labeling (here the
    deterministic decade blocks k // 10 of the transition-graph node ids —
    the labeling is an INPUT; pair it with `dedup_connected_components` or
    `graph_kcore` output in a pipeline), score each community's contribution
    q_c = e_c/m - (d_c/2m)^2 — the standard partition-quality objective that
    tells a curation pipeline whether its clustering is better than chance.
    Pure aggregates over the distinct-edge list (two small shuffles + a
    broadcast scalar); every double is a fixed two-division expression over
    exact bigints."""
    tr, _, _ = _transition_graph(spark, sf_dir)
    und = (
        tr.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    m = und.agg(F.count(F.lit(1)).alias("m_edges"))
    labeled = und.select(
        "a", "b", (F.col("a") / 10).cast("long").alias("ca"), (F.col("b") / 10).cast("long").alias("cb")
    )
    intra = (
        labeled.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    adj = und.select(
        F.col("a").alias("node"), (F.col("a") / 10).cast("long").alias("community")
    ).unionAll(
        und.select(F.col("b").alias("node"), (F.col("b") / 10).cast("long").alias("community"))
    )
    deg = adj.groupBy("community").agg(F.count(F.lit(1)).alias("d_c"))
    out = (
        deg.join(intra, "community", "left")
        .withColumn("e_c", F.coalesce(F.col("e_c"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(m))
    )
    half = F.col("d_c").cast("double") / (2 * F.col("m_edges"))
    q = F.col("e_c").cast("double") / F.col("m_edges") - half * half
    return out.select("community", "e_c", "d_c", "m_edges", q.alias("q_contrib"))


# --------------------------------------------------------------------------- #
# graph_degree_assortativity — degree-degree correlation across edges          #
# --------------------------------------------------------------------------- #


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_transition_edges_sql()},
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM tr WHERE src IS NOT NULL AND src <> dst
    ),
    adj AS (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
    stubs AS (
        SELECT da.d AS x, db.d AS y
        FROM adj JOIN deg da ON adj.node = da.node JOIN deg db ON adj.nbr = db.node
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM stubs
    )
    SELECT n, sxy,
           CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx = 0
                  OR CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy = 0
                THEN NULL
                ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           END AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark, sf_dir):
    """Degree assortativity (Newman): Pearson correlation of endpoint degrees
    over every directed stub of the undirected transition graph — positive
    means hubs link to hubs (social-network shape), negative means hubs link
    to leaves (infrastructure shape); the one-number structural fingerprint
    used to sanity-check synthetic interaction graphs.  Degrees are bounded
    by the node count, so Σxy fits comfortably in int64 and all five sums
    are exact; the correlation is the fixed sums-formula over those
    engine-identical integers.  Two degree joins on the (already aggregated)
    adjacency list + one global aggregate."""
    tr, _, _ = _transition_graph(spark, sf_dir)
    und = (
        tr.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("node"), F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("nbr"), F.col("d").alias("y"))
    stubs = adj.join(da, "node").join(db, "nbr")
    s = stubs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    dx = n * F.col("sxx") - sx * F.col("sx")
    dy = n * F.col("syy") - sy * F.col("sy")
    r = (n * F.col("sxy") - sx * F.col("sy")) / (F.sqrt(dx) * F.sqrt(dy))
    # a regular graph (all degrees equal — the sf0.1 fixture's complete
    # transition graph) has zero degree variance: assortativity is undefined,
    # emitted as NULL (DuckDB's x/0; Spark ANSI would raise)
    guarded = F.when((dx == 0) | (dy == 0), F.lit(None).cast("double")).otherwise(r)
    return s.select("n", "sxy", guarded.alias("assortativity"))


# --------------------------------------------------------------------------- #
# graph_bfs_khop — BFS distance layers from a deterministic seed               #
# --------------------------------------------------------------------------- #

_BFS_K = 4


def _bfs_oracle() -> str:
    return f"""
    WITH RECURSIVE ev AS (
        SELECT user_id, ts, event_id, CAST(props->>'k' AS BIGINT) AS node FROM events
    ),
    tr AS (
        SELECT node AS dst,
               LAG(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        FROM ev
    ),
    edges AS (
        SELECT src, dst FROM tr WHERE src IS NOT NULL AND src != dst GROUP BY src, dst
    ),
    sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    seed AS (SELECT MIN(node) AS s FROM ev WHERE node IS NOT NULL),
    walk(node, d) AS (
        SELECT s, 0 FROM seed
        UNION
        SELECT e.dst, w.d + 1
        FROM walk w JOIN sym e ON e.src = w.node
        WHERE w.d < {_BFS_K}
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY node
    """


@register("graph_bfs_khop", oracle=_bfs_oracle())
def graph_bfs_khop(spark, sf_dir):
    """BFS distance layers: every node within {_k} hops of a deterministic
    seed (the minimum node id) over the undirected event-transition graph —
    the k-hop neighborhood expansion behind graph sampling (GraphSAGE-style
    fan-out), blast-radius analysis, and friend-of-friend features.

    Spark plan: {_k} unrolled frontier rounds (the bounded-iteration
    discipline of `graph_pagerank`); each round joins ONLY the newest
    frontier against the symmetrized edge list and folds with a min-distance
    aggregate, so round r shuffles O(frontier_r x avg-degree), never
    O(nodes).  The seed is resolved with a 1-row broadcast join (no
    collect).  The oracle walks the same graph with a depth-bounded
    recursive CTE and takes MIN(depth) per node — the set-based definition
    the frontier algorithm must equal."""
    _, edges, nodes = _transition_graph(spark, sf_dir)
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    seed = nodes.agg(F.min("node").alias("s"))
    dist = nodes.join(F.broadcast(seed), F.col("node") == F.col("s")).select(
        "node", F.lit(0).cast("int").alias("d")
    )
    frontier = dist
    for i in range(1, _BFS_K + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"), F.lit(i).cast("int").alias("d"))
            .distinct()
        )
        dist = dist.union(nxt).groupBy("node").agg(F.min("d").alias("d"))
        # next round expands only the nodes first reached THIS round
        frontier = dist.filter(F.col("d") == i)
    return dist.select("node", F.col("d").cast("long").alias("dist"))


fill_doc(graph_bfs_khop, _k=_BFS_K)


# --------------------------------------------------------------------------- #
# corpus_curation_v8 — per-domain incremental RECRAWL pipeline (delta-only)    #
# --------------------------------------------------------------------------- #

_V8_GATE_BP = 8000        # standing-index containment >= 80.00 % => near-dup
_V8_BUDGET_TOKENS = 100_000  # next-epoch token budget (mixture_refresh's)

# Shared shingle shape (the _SHINGLES_CTE of queries/dedup.py, parameterized
# on the source relation so the delta CTE can be shingled too).
_V8_SHINGLE_SQL = """
    SELECT DISTINCT doc_id,
           CAST('0x' || SUBSTR(MD5(s.shingle), 1, 15) AS BIGINT) AS h
    FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
              FROM {rel})
    ) s
"""


def _v8_oracle() -> str:
    """FULL-RECOMPUTE oracle: materializes the entire next-epoch corpus
    (carried base docs UNION accepted delta docs) and aggregates its token
    mass per source directly — the engine derives the same numbers
    INCREMENTALLY (carried aggregate + accepted-delta aggregate, never
    materializing the union), so the hash match proves the incremental
    identity, not just the arithmetic."""
    ntok = "LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))"
    return f"""
    WITH changed AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 2 = 0 THEN REVERSE(text)
                    ELSE text || ' refetched' END AS text
        FROM documents WHERE doc_id % 11 = 1
    ),
    added AS (
        SELECT doc_id + 1000000 AS doc_id, source, REVERSE(text) || ' new' AS text
        FROM documents WHERE doc_id % 13 = 0
    ),
    delta AS (SELECT * FROM changed UNION ALL SELECT * FROM added),
    idx AS (SELECT DISTINCT h FROM ({_V8_SHINGLE_SQL.format(rel='documents')})),
    dsh AS ({_V8_SHINGLE_SQL.format(rel='delta')}),
    gate AS (
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_sh,
               CAST(COUNT(i.h) AS BIGINT) AS n_hit
        FROM dsh d LEFT JOIN idx i ON i.h = d.h
        GROUP BY d.doc_id
    ),
    verdict AS (
        SELECT dl.doc_id, dl.source, dl.text,
               COALESCE(g.n_hit * 10000 // g.n_sh >= {_V8_GATE_BP}, FALSE) AS is_dup
        FROM delta dl LEFT JOIN gate g USING (doc_id)
    ),
    next_corpus AS (
        SELECT source, text, FALSE AS fresh FROM documents
        WHERE doc_id % 11 NOT IN (0, 1)
        UNION ALL
        SELECT source, text, TRUE FROM verdict WHERE NOT is_dup
    ),
    per_next AS (
        SELECT source,
               CAST(SUM({ntok}) AS BIGINT) AS n_tokens_next,
               CAST(COALESCE(SUM({ntok}) FILTER (WHERE NOT fresh), 0) AS BIGINT)
                 AS tokens_carried,
               CAST(COALESCE(SUM({ntok}) FILTER (WHERE fresh), 0) AS BIGINT)
                 AS tokens_accepted
        FROM next_corpus GROUP BY source
    ),
    acct AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_delta,
               CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dup_gated,
               CAST(COUNT(*) FILTER (WHERE NOT is_dup) AS BIGINT) AS n_accepted
        FROM verdict GROUP BY source
    ),
    w AS (
        SELECT p.source,
               COALESCE(a.n_delta, 0) AS n_delta,
               COALESCE(a.n_dup_gated, 0) AS n_dup_gated,
               COALESCE(a.n_accepted, 0) AS n_accepted,
               p.tokens_carried, p.tokens_accepted, p.n_tokens_next,
               SQRT(CAST(p.n_tokens_next AS DOUBLE))
                 * (1 + CAST(p.tokens_accepted AS DOUBLE) / p.n_tokens_next) AS wraw
        FROM per_next p LEFT JOIN acct a USING (source)
    ),
    denom AS (
        SELECT LIST_REDUCE(LIST(wraw ORDER BY source), (a2, v) -> a2 + v) AS z
        FROM w
    )
    SELECT source, n_delta, n_dup_gated, n_accepted,
           tokens_carried, tokens_accepted, n_tokens_next,
           wraw / z AS weight,
           wraw / z * {_V8_BUDGET_TOKENS} / n_tokens_next AS sampling_rate,
           CAST(CEIL(wraw / z * {_V8_BUDGET_TOKENS} / n_tokens_next) AS BIGINT)
             AS n_epochs
    FROM w, denom
    """


@register("corpus_curation_v8", oracle=_v8_oracle())
def corpus_curation_v8(spark, sf_dir):
    """Per-domain incremental RECRAWL pipeline (curation v8, the round-10
    stretch #8): the production refresh shape that touches ONLY the delta —
    compose `corpus_delta_report`'s recrawl classification,
    `streaming_dedup_gate_live`'s standing-index dedup gate (batch form),
    and `corpus_mixture_refresh`'s freshness-weighted rebalance into one
    end-to-end pass.  Stages: (1) the recrawl twin ships a DELTA of changed
    + added documents (dead links are drops; the fixture plants half the
    changes as boilerplate refetches and half — plus all additions — as
    genuinely novel reversed text, so the gate has real work on both
    sides); (2) each delta doc is shingled and containment-scored against
    the STANDING corpus's shingle index — >= {gate} bp containment means
    the "new" content already exists and is gated out (integer basis
    points, the `multimodal_caption_align` score discipline); (3) per
    source, next-epoch token mass is derived INCREMENTALLY — carried
    tokens (one aggregate over the base scan; removed and changed-old
    docs excluded) plus accepted-delta tokens — and fed through
    `corpus_mixture_plan`'s temperature rule with the freshness
    multiplier, yielding next-epoch weights / sampling rates / repeat
    epochs.

    The oracle is a FULL RECOMPUTE: it materializes the whole next-epoch
    corpus and aggregates it directly, so the hash match proves the
    engine's delta-only arithmetic reconstructs exactly the
    from-scratch state — the invariant an incremental production pipeline
    must hold.

    Scale: only the delta (a few % of the corpus) is ever shingled or
    gated; the standing index is reused (in production it is the
    incrementally-maintained structure `dedup_incremental_index` /
    the streaming gate already built — here derived once per run); the
    carried-token aggregate moves (source, ntok) pairs, never text; the
    mixture math is dimension-sized.  cf. reference
    `dags/patient_claims_plus_postgres.py:63-68` (full drop-and-recreate
    idempotency — the recompute posture this pipeline exists to beat)."""
    d = load_table(spark, sf_dir, "documents")
    from airflow_cms_inpatient_etl_spark.operators.text import exploded_shingle_hashes

    ntok = lambda c: F.size(F.split(F.trim(c), r"\s+")).cast("long")  # noqa: E731

    # -- stage 1: the delta (changed + added), each branch scan-shaped ------- #
    changed = d.filter(F.col("doc_id") % 11 == 1).select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 2 == 0, F.reverse(F.col("text")))
        .otherwise(F.concat(F.col("text"), F.lit(" refetched")))
        .alias("text"),
    )
    added = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "source",
        F.concat(F.reverse(F.col("text")), F.lit(" new")).alias("text"),
    )

    # -- stage 2: standing-index containment gate over the delta ONLY -------- #
    idx = exploded_shingle_hashes(d, "doc_id", "text", 3).select("h").distinct()
    dsh = exploded_shingle_hashes(changed, "doc_id", "text", 3).unionByName(
        exploded_shingle_hashes(added, "doc_id", "text", 3)
    )
    gate = (
        dsh.join(idx.withColumn("__in_idx", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            F.count("__in_idx").cast("long").alias("n_hit"),
        )
        .select(
            "doc_id",
            (F.expr("n_hit * 10000 div n_sh") >= _V8_GATE_BP).alias("is_dup"),
        )
    )
    delta_meta = (
        changed.unionByName(added)
        .select("doc_id", "source", ntok(F.col("text")).alias("ntok"))
        .join(gate, "doc_id", "left")
        .select(
            "doc_id", "source", "ntok", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
        )
    )

    # -- stage 3: incremental per-source accounting + mixture rebalance ------ #
    acct = delta_meta.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_delta"),
        F.coalesce(F.sum(F.when(F.col("is_dup"), 1)), F.lit(0))
        .cast("long")
        .alias("n_dup_gated"),
        F.coalesce(F.sum(F.when(~F.col("is_dup"), 1)), F.lit(0))
        .cast("long")
        .alias("n_accepted"),
        F.coalesce(F.sum(F.when(~F.col("is_dup"), F.col("ntok"))), F.lit(0))
        .cast("long")
        .alias("tokens_accepted"),
    )
    carried = (
        d.filter(F.col("doc_id") % 11 >= 2)
        .groupBy("source")
        .agg(F.sum(ntok(F.col("text"))).cast("long").alias("tokens_carried"))
    )
    # FULL outer: a source present only in the delta (no carried docs — all
    # its base docs fell in the changed/removed residues, or it arrives
    # purely via added docs) must still appear in the next-epoch mixture,
    # exactly as the full-recompute oracle's per_next does.  The n_tokens_next
    # > 0 filter mirrors oracle membership precisely: a source is in
    # next_corpus iff it contributes at least one carried or accepted doc
    # (every doc has ntok >= 1), while a source whose delta is entirely
    # dup-gated contributes nothing and is dropped by BOTH engines.
    per_src = (
        carried.join(acct, "source", "full")
        .select(
            "source",
            F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
            F.coalesce("n_dup_gated", F.lit(0)).cast("long").alias("n_dup_gated"),
            F.coalesce("n_accepted", F.lit(0)).cast("long").alias("n_accepted"),
            F.coalesce("tokens_carried", F.lit(0)).cast("long").alias("tokens_carried"),
            F.coalesce("tokens_accepted", F.lit(0)).cast("long").alias("tokens_accepted"),
        )
        .withColumn(
            "n_tokens_next", (F.col("tokens_carried") + F.col("tokens_accepted"))
        )
        .filter(F.col("n_tokens_next") > 0)
    )
    wraw = F.sqrt(F.col("n_tokens_next").cast("double")) * (
        F.lit(1) + F.col("tokens_accepted").cast("double") / F.col("n_tokens_next")
    )
    return temperature_mixture(per_src, "source", wraw, "n_tokens_next", _V8_BUDGET_TOKENS)


fill_doc(corpus_curation_v8, gate=_V8_GATE_BP)


# --------------------------------------------------------------------------- #
# graph_label_propagation — synchronous community detection (round 11)         #
# --------------------------------------------------------------------------- #

_LPA_ITERS = 3


def _lpa_oracle() -> str:
    parts = [
        """
    WITH ev AS (
        SELECT user_id, ts, event_id, CAST(props->>'k' AS BIGINT) AS node FROM events
    ),
    tr AS (
        SELECT node AS dst,
               LAG(node) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        FROM ev
    ),
    edges AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
        FROM tr WHERE src IS NOT NULL GROUP BY src, dst
    ),
    nodes AS (SELECT DISTINCT node FROM ev),
    sym AS (
        SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
            SELECT src, dst, w FROM edges WHERE src <> dst
            UNION ALL
            SELECT dst AS src, src AS dst, w FROM edges WHERE src <> dst
        ) GROUP BY src, dst
    ),
    l0 AS (SELECT node, node AS label FROM nodes)"""
    ]
    for i in range(1, _LPA_ITERS + 1):
        parts.append(
            f""",
    s{i} AS (
        SELECT e.dst AS node, l.label, CAST(SUM(e.w) AS BIGINT) AS wsum
        FROM sym e JOIN l{i - 1} l ON l.node = e.src
        GROUP BY e.dst, l.label
    ),
    a{i} AS (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY wsum DESC, label) AS rn
        FROM s{i}
    ),
    l{i} AS (
        SELECT n.node, COALESCE(a.label, p.label) AS label
        FROM nodes n
        LEFT JOIN (SELECT node, label FROM a{i} WHERE rn = 1) a ON a.node = n.node
        JOIN l{i - 1} p ON p.node = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT node, label,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
    FROM l{_LPA_ITERS}"""
    )
    return "".join(parts)


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark, sf_dir):
    """Synchronous weighted label propagation ({n} rounds) over the
    symmetrized event transition graph: community detection with integer
    weights and min-label tie-breaks, so a normally-heuristic algorithm is
    bit-deterministic and hash-matches an independently-unrolled SQL oracle
    (each round one CTE: per-(node, neighbor-label) weight census, argmax by
    (wsum DESC, label)).  Output is every node's community plus the community
    size.  See operators.graph.label_propagation for the two-exchange-per-
    round scale contract."""
    from airflow_cms_inpatient_etl_spark.operators.graph import label_propagation

    _, edges, nodes = _transition_graph(spark, sf_dir)
    labels = label_propagation(edges, nodes, n_iter=_LPA_ITERS)
    return labels.select(
        "node",
        "label",
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("community_size"),
    )


fill_doc(graph_label_propagation, n=_LPA_ITERS)
