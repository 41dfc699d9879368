"""Training-data pipeline compositions over ``documents``: deterministic
train/test splitting, test-set decontamination, and an end-to-end corpus
curation pass (quality filter → language filter → dedup → representative
selection).

These are the glue queries an LLM data pipeline actually runs — each is a
composition of the engine's primitive operators, registered with a DuckDB
oracle so the whole pipeline (not just its stages) is value-checked.

Scale posture: every stage is a built-in-expression projection, a hash
aggregation, or an equi-join on int64 shingle hashes — no Python in the row
path, no all-pairs joins; the decontamination join broadcasts the (small)
eval-set posting list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_cms_inpatient_etl_spark.operators.layout import (
    equi_width_bucket_int,
    exact_range_shards,
    with_hilbert_key,
    zorder_key_int,
)
from airflow_cms_inpatient_etl_spark.operators.stages import (
    keep_first_by_key,
    temperature_mixture,
    top_k_per_group,
)
from airflow_cms_inpatient_etl_spark.operators.text import (
    exploded_shingle_hashes,
    hash60,
    normalized_fingerprint,
)
from airflow_cms_inpatient_etl_spark.queries.base import fill_doc, register
from airflow_cms_inpatient_etl_spark.queries.dedup import _CDL_CTES, _SHINGLES_CTE
from airflow_cms_inpatient_etl_spark.operators.dedup import cross_doc_line_dedup
from airflow_cms_inpatient_etl_spark.operators.scrub import scrub_text
from airflow_cms_inpatient_etl_spark.queries.textops import _LEXICONS, _SCRUB_CHAIN, _scrub_sql
from airflow_cms_inpatient_etl_spark.sources.registry import load_table, spread_scan


@register(
    "split_train_test_hash",
    oracle="""
    SELECT doc_id,
           CAST('0x' || SUBSTR(MD5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 100 AS bucket,
           CASE WHEN CAST('0x' || SUBSTR(MD5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 100 < 80 THEN 'train'
                WHEN CAST('0x' || SUBSTR(MD5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_test_hash(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment via a salted portable
    hash of the document id.  Hash-based (not random) so the split is stable
    across runs, engines, and repartitioning — the property a training
    pipeline needs for reproducible experiments — and adding documents never
    reassigns existing ones.  The 60-bit md5-prefix hash is the same portable
    construction used by the dedup operators."""
    d = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string"), seed="split:")
    bucket = (h % 100).alias("bucket")
    return d.select(
        "doc_id",
        bucket,
        F.when(h % 100 < 80, "train").when(h % 100 < 90, "val").otherwise("test").alias("split"),
    )


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    tr AS (SELECT doc_id, h FROM ex WHERE doc_id >= 50),
    te AS (SELECT doc_id AS test_id, h FROM ex WHERE doc_id < 50)
    SELECT tr.doc_id,
           COUNT(DISTINCT tr.h) AS n_shared_shingles,
           COUNT(DISTINCT te.test_id) AS n_test_docs
    FROM tr JOIN te ON tr.h = te.h
    GROUP BY tr.doc_id
    """,
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Test-set decontamination: flag training documents sharing any word
    3-gram with the held-out eval set (doc_id < 50), with overlap counts.

    The contamination check is an equi-join on int64 shingle hashes — the
    eval-set posting list is small (|eval| ≪ |train|) and broadcast, so at
    100 TB this is one scan of the training shingles against a map-side hash
    table, never a shuffle of the big side.  Flagged docs are then dropped
    (anti-join) or quarantined by the caller."""
    ex = exploded_shingle_hashes(load_table(spark, sf_dir, "documents"), "doc_id", "text", 3)
    train = ex.filter(F.col("doc_id") >= 50)
    test = ex.filter(F.col("doc_id") < 50).select(F.col("doc_id").alias("test_id"), "h")
    return (
        train.join(F.broadcast(test), "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("test_id").alias("n_test_docs"),
        )
    )


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, text, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    stats AS (
        SELECT doc_id, text, w, LEN(w) AS n_tokens, LEN(LIST_DISTINCT(w)) AS n_distinct
        FROM toks
    ),
    filtered AS (
        SELECT doc_id, text, n_tokens FROM stats
        WHERE n_tokens BETWEEN 10 AND 1000
          AND 5 * n_distinct >= n_tokens
          AND LEN(LIST_INTERSECT(LIST_DISTINCT(w),
                  {sorted(set(t for lex in _LEXICONS.values() for t in lex))!r})) > 0
    ),
    fp AS (
        SELECT doc_id, n_tokens,
               MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fingerprint
        FROM filtered
    ),
    reps AS (
        SELECT fingerprint, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM fp GROUP BY fingerprint
    )
    SELECT r.doc_id, r.fingerprint, r.n_copies, f.n_tokens
    FROM reps r JOIN fp f ON r.doc_id = f.doc_id
    """,
)
def corpus_curation_pipeline(spark, sf_dir):
    """End-to-end curation pass, the composition a pretraining pipeline runs
    per snapshot: (1) quality gate — token count in [10, 1000] and lexical
    diversity ≥ 0.2 (integer form ``5·distinct ≥ tokens``: no float-tie
    hazards); (2) language gate — at least one known-lexicon stopword hit
    (the ``predicted_lang != 'und'`` rule of text_langid_heuristic); (3)
    exact near-dup collapse via normalized fingerprint, keeping the min-id
    representative with its copy count.

    Each stage is a narrow projection/filter that fuses into one codegen'd
    scan; the only shuffles are the fingerprint groupBy and the (rep ⋈ stats)
    join back — both on keys that AQE handles at scale."""
    d = load_table(spark, sf_dir, "documents")
    fp = _gated_docs(d).select(
        "doc_id", "n_tokens", normalized_fingerprint(F.col("text")).alias("fingerprint")
    )
    return _fingerprint_reps(fp).select("doc_id", "fingerprint", "n_copies", "n_tokens")


_ALL_LEX = sorted({t for lex in _LEXICONS.values() for t in lex})


def _gated_docs(d: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, text, *carry, n_tokens) of the documents passing
    corpus_curation_pipeline's quality gate (token count in [10, 1000],
    5·distinct >= tokens) and language gate (>= 1 known-lexicon hit)."""
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    lex = F.array(*[F.lit(t) for t in _ALL_LEX])
    return d.select(
        "doc_id",
        "text",
        *carry,
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.size(F.array_intersect(F.array_distinct(w), lex)).alias("n_lex_hits"),
    ).filter(
        F.col("n_tokens").between(10, 1000)
        & (5 * F.col("n_distinct") >= F.col("n_tokens"))
        & (F.col("n_lex_hits") > 0)
    ).drop("n_distinct", "n_lex_hits")


def _fingerprint_reps(fp: DataFrame) -> DataFrame:
    """Exact near-dup collapse: the min-doc_id row of every ``fingerprint``
    with the group's copy count ``n_copies`` (fingerprint groupBy + doc_id
    join back)."""
    reps = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return reps.select("doc_id", "n_copies").join(fp, "doc_id")


@register(
    "sample_language_rebalance",
    oracle="""
    SELECT doc_id, lang,
           CAST('0x' || SUBSTR(MD5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 100 AS bucket
    FROM documents
    WHERE CAST('0x' || SUBSTR(MD5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          % 100 < CASE WHEN lang = 'en' THEN 5 ELSE 20 END
    """,
)
def sample_language_rebalance(spark, sf_dir):
    """Stratified downsampling with per-stratum rates — the language-rebalance
    pass of a multilingual corpus (keep 5 % of dominant 'en', 20 % of the
    rest).  Hash-based like split_train_test_hash, so membership is stable
    under reruns and growth.  The hash predicate can't push into parquet (it
    derives from md5), but the scan is pruned to (doc_id, lang) and the
    filter runs fused in the scan stage — zero shuffles at any scale
    (asserted in tests/test_plans.py)."""
    d = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string"), seed="strat:")
    rate = F.when(F.col("lang") == "en", 5).otherwise(20)
    return d.select("doc_id", "lang", (h % 100).alias("bucket")).filter(F.col("bucket") < rate)


PACK_BUCKETS = 16


@register(
    "pack_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST('0x' || SUBSTR(MD5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {PACK_BUCKETS} AS bucket,
               LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, bucket, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang, bucket ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM t
    )
    SELECT doc_id, lang, bucket, n_tokens, cum_tokens,
           (cum_tokens - n_tokens) // 2000 AS shard
    FROM c
    """,
)
def pack_token_budget(spark, sf_dir):
    """Greedy shard packing for training batches: documents are packed in
    doc_id order into ~2000-token shards via a running token total — a doc
    starts the shard its cumulative prefix falls in.  The packing window is
    partitioned by (lang, deterministic hash bucket of doc_id): real corpora
    are 1-2 language dominant, so a lang-only window would sort ~half the
    corpus in ONE task at 100 TB; the {PACK_BUCKETS}-way bucket bounds every
    window sort to ~1/{PACK_BUCKETS} of a stratum (raise PACK_BUCKETS with
    corpus size — it only changes which docs share a shard, never validity).
    Each bucket packs against its own budget; a shard is globally addressed
    by (lang, bucket, shard).  The bucket hash is the portable md5-based one
    (stable across engines/reruns — membership survives corpus growth, unlike
    Spark's xxhash64).  Integer division only — no float-tie hazards."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    return _packed(t, "n_tokens", 2000).select(
        "doc_id", "lang", "bucket", "n_tokens", "cum_tokens", "shard"
    )


def _packed(df: DataFrame, tokens: str, budget: int) -> DataFrame:
    """Greedy doc_id-order packing of ``df`` (doc_id, lang, ``tokens``) into
    ~``budget``-token shards: appends ``bucket`` (portable hash of doc_id mod
    PACK_BUCKETS), ``cum_tokens`` (running total inside the (lang, bucket)
    window) and ``shard`` = (cum_tokens − tokens) div budget."""
    w = (
        W.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    bucket = hash60(F.col("doc_id").cast("string"), seed="pack:") % PACK_BUCKETS
    return (
        df.withColumn("bucket", bucket)
        .withColumn("cum_tokens", F.sum(tokens).over(w))
        .withColumn("shard", F.expr(f"(cum_tokens - {tokens}) div {budget}"))
    )


SOURCE_CAP = 10


@register(
    "docs_source_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, lang, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY CAST('0x' || SUBSTR(MD5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15)
                                AS BIGINT),
                            doc_id
               ) AS rn
        FROM documents
    )
    SELECT doc_id, source, lang, n_chars, rn FROM ranked WHERE rn <= {SOURCE_CAP}
    """,
)
def docs_source_cap(spark, sf_dir):
    """Per-source document cap — the per-domain quota step of web-corpus
    curation (keep at most K docs per domain so no single crawl host dominates
    the training mix).  The kept set is the K smallest *portable md5 hashes*
    per source: a deterministic uniform sample that is stable across engines,
    reruns, AND corpus growth — re-crawling a domain only ever evicts docs in
    favor of lower-hash newcomers, it never reshuffles the whole quota (the
    property incremental recrawls need; Spark-internal xxhash64 would pin the
    sample to one engine).  Shape: ``operators.stages.top_k_per_group``, the
    skew-safe two-phase top-K — a single window partitioned by source would
    sort a pathologically hot domain (10⁹ docs at web scale) in ONE task
    (the oracle runs that naive window and the hash match proves the
    two-phase form exact)."""
    hv = hash60(F.col("doc_id").cast("string"), seed="cap:")
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", "source", "lang", "n_chars", hv.alias("hv"))
    return top_k_per_group(d, "source", ["hv", "doc_id"], SOURCE_CAP).drop("hv")


@register(
    "corpus_curation_v2",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, text, source, lang,
               STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    stats AS (
        SELECT doc_id, text, source, lang, LEN(w) AS n_tokens,
               LEN(LIST_DISTINCT(w)) AS n_distinct,
               LEN(LIST_INTERSECT(LIST_DISTINCT(w), {_ALL_LEX!r})) AS n_lex_hits
        FROM toks
    ),
    tc AS (
        SELECT doc_id, t, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(w) AS t FROM toks) GROUP BY doc_id, t
    ),
    rep AS (SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_tok_sum
            FROM tc GROUP BY doc_id),
    gated AS (
        SELECT s.doc_id, s.text, s.source, s.lang, s.n_tokens
        FROM stats s JOIN rep r USING (doc_id)
        WHERE s.n_tokens BETWEEN 10 AND 1000
          AND 5 * s.n_distinct >= s.n_tokens
          AND s.n_lex_hits > 0
          AND r.top_c / r.n_tok_sum <= 0.10
    ),
    fp AS (SELECT doc_id, text, source, lang, n_tokens,
                  MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fingerprint
           FROM gated),
    reps AS (SELECT fingerprint, MIN(doc_id) AS doc_id,
                    CAST(COUNT(*) AS BIGINT) AS n_copies
             FROM fp GROUP BY fingerprint),
    kept AS (SELECT f.doc_id, f.text, f.source, f.lang, f.n_tokens, r.n_copies
             FROM reps r JOIN fp f ON r.doc_id = f.doc_id),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY CAST('0x' || SUBSTR(MD5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15)
                                AS BIGINT),
                            doc_id) AS rn
        FROM kept
    )
    SELECT doc_id, source, lang, n_tokens, n_copies, rn, {_scrub_sql("text")} AS clean_text
    FROM ranked WHERE rn <= {SOURCE_CAP}
    """,
)
def corpus_curation_v2(spark, sf_dir):
    """The COMPLETE curation pass a pretraining snapshot runs, composing every
    round-3 curation primitive end-to-end: (1) v1's quality + language gates
    (token count, lexical diversity, lexicon hit); (2) the Gopher repetition
    gate (most-frequent-token fraction ≤ 0.10); (3) exact near-dup collapse
    to the min-id representative with copy count; (4) the per-source domain
    quota (K smallest portable hashes per source); (5) PII + denylist
    redaction of the surviving text.  Output: one row per kept doc with its
    provenance (source, lang), stats (n_tokens, n_copies), quota rank, and
    the scrubbed text.

    Scale shape: stages 1-2 are one corpus scan + one (doc_id, token) count
    aggregation; stage 3 is a fingerprint groupBy; stage 4 a per-source
    window over the (already heavily filtered) survivors; stage 5 a map-only
    regex chain.  Nothing re-reads the corpus; every shuffle keys on doc/
    fingerprint/source."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    rep = (
        d.select("doc_id", F.explode(w).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").cast("bigint").alias("n_tok_sum"))
    )
    gated = (
        _gated_docs(d, "source", "lang")
        .join(rep, "doc_id")
        .filter(F.col("top_c") / F.col("n_tok_sum") <= 0.10)
    )
    fp = gated.select(
        "doc_id", "text", "source", "lang", "n_tokens",
        normalized_fingerprint(F.col("text")).alias("fingerprint"),
    )
    kept = _fingerprint_reps(fp).withColumn(
        "__hv", hash60(F.col("doc_id").cast("string"), seed="cap:")
    )
    capped = top_k_per_group(kept, "source", ["__hv", "doc_id"], SOURCE_CAP)
    return capped.select(
        "doc_id",
        "source",
        "lang",
        "n_tokens",
        "n_copies",
        "rn",
        scrub_text(F.col("text"), _SCRUB_CHAIN).alias("clean_text"),
    )


# --------------------------------------------------------------------------- #
# corpus_range_shards — exact-boundary range sharding for output writing       #
# --------------------------------------------------------------------------- #

_N_SHARDS = 8


def _range_shard_oracle() -> str:
    n_ref = "(SELECT n FROM n)"
    bounds = ", ".join(
        f"(SELECT MIN(v) FROM cum WHERE cum >= ({i} * {n_ref} + {_N_SHARDS - 1}) // {_N_SHARDS}) AS b{i}"
        for i in range(1, _N_SHARDS)
    )
    gt_sum = " + ".join(
        f"CASE WHEN d.n_chars > b.b{i} THEN 1 ELSE 0 END" for i in range(1, _N_SHARDS)
    )
    return f"""
    WITH h AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
    cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
    b AS (SELECT {bounds}),
    assigned AS (
        SELECT d.doc_id, d.n_chars, 1 + {gt_sum} AS shard_id
        FROM documents d CROSS JOIN b
    )
    SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(n_chars) AS lo_chars, MAX(n_chars) AS hi_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY shard_id
    """


@register("corpus_range_shards", oracle=_range_shard_oracle())
def corpus_range_shards(spark, sf_dir):
    """Range-shard the corpus into 8 size-balanced output shards keyed by
    ``n_chars`` with EXACT quantile boundaries
    (``operators.layout.exact_range_shards``: value histogram → cumulative
    counts → one broadcast boundary row; no sampling, no global sort) and
    emit the shard manifest (count, char range, total chars per shard) —
    training shards whose manifest must be byte-reproducible, which
    Spark's sampling RangePartitioner cannot give.  Integer arithmetic end
    to end ⇒ hash-exact."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return exact_range_shards(d, "n_chars", _N_SHARDS).groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("lo_chars"),
        F.max("n_chars").alias("hi_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------- #
# global_rank_via_sharding — total order without a single-task sort            #
# --------------------------------------------------------------------------- #


@register(
    "global_rank_via_sharding",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
               AS global_rank
    FROM documents
    """,
)
def global_rank_via_sharding(spark, sf_dir):
    """Exact GLOBAL rank of every document by (n_chars, doc_id) — computed
    WITHOUT a global sort.  A naive ``ROW_NUMBER() OVER (ORDER BY ...)``
    (exactly what the oracle runs) plans as a single-partition window: one
    task sorts the entire corpus — the canonical 100 TB scale-killer.  The
    distributed identity instead:

        global_rank = (rows in all earlier shards) + rank within own shard

    using the exact-boundary machinery of ``corpus_range_shards``: the
    value histogram (tiny) yields 7 boundary values AND the cumulative row
    count at each boundary in ONE aggregate; every row gets its shard and
    its shard's prefix offset from one broadcast row (the offset telescopes
    as Σ (n_chars > bᵢ ? cumᵢ − cumᵢ₋₁ : 0) = cum at the shard's lower
    boundary); then 8 INDEPENDENT per-shard window sorts run in parallel.
    All integer arithmetic, so the hash match against the single-window
    oracle proves the decomposition exact — ties broken by doc_id make the
    order total."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h = d.groupBy(F.col("n_chars").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    n_total = h.agg(F.sum("c").alias("n"))
    cum = h.select(
        "v",
        F.sum("c").over(W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    )
    targets = cum.crossJoin(F.broadcast(n_total))
    aggs = []
    for i in range(1, _N_SHARDS):
        tgt = F.expr(f"({i} * n + {_N_SHARDS - 1}) div {_N_SHARDS}")
        aggs.append(F.min(F.when(F.col("cum") >= tgt, F.col("v"))).alias(f"b{i}"))
        aggs.append(F.min(F.when(F.col("cum") >= tgt, F.col("cum"))).alias(f"c{i}"))
    bounds = targets.agg(*aggs)
    shard = F.lit(1)
    offset = F.lit(0).cast("long")
    for i in range(1, _N_SHARDS):
        past = F.col("n_chars") > F.col(f"b{i}")
        shard = shard + F.when(past, 1).otherwise(0)
        prev = F.col(f"c{i-1}") if i > 1 else F.lit(0).cast("long")
        offset = offset + F.when(past, F.col(f"c{i}") - prev).otherwise(0)
    assigned = d.crossJoin(F.broadcast(bounds)).select(
        "doc_id", "n_chars", shard.alias("shard_id"), offset.alias("offset")
    )
    w = W.partitionBy("shard_id").orderBy("n_chars", "doc_id")
    return assigned.select(
        "doc_id",
        "n_chars",
        (F.col("offset") + F.row_number().over(w)).cast("long").alias("global_rank"),
    )


# --------------------------------------------------------------------------- #
# stratified_sample_exact_k — per-stratum deterministic reservoir              #
# --------------------------------------------------------------------------- #

_STRAT_K = 20


@register(
    "stratified_sample_exact_k",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang, source, n_chars,
               CAST('0x' || SUBSTR(MD5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM documents
    )
    SELECT doc_id, lang, source, n_chars,
           CAST(rn AS BIGINT) AS stratum_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
        FROM h
    ) WHERE rn <= {_STRAT_K}
    """,
)
def stratified_sample_exact_k(spark, sf_dir):
    """Deterministic stratified sampling: EXACTLY min(k, |stratum|) documents
    per language, drawn by portable-hash order — the eval-set / holdout
    carve every corpus needs where proportional sampling would starve small
    strata (Spark's ``sampleBy`` is probabilistic per row: it returns
    *approximately* fraction·n and a different set under a different
    partitioning; this is exact-k and byte-stable).  The hash makes
    inclusion a pure function of (seed, doc_id) — re-runs, engines, and
    repartitionings agree.

    Skew-safe two-phase top-k (``operators.stages.top_k_per_group``): a
    single window partitioned by ``lang`` sorts each WHOLE stratum in one
    task — the canonical skew killer when one language holds half a 100 TB
    corpus (the oracle runs that naive window and the hash match proves the
    two-phase form exact)."""
    hv = hash60(F.col("doc_id").cast("string"), seed="strat:")
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", "lang", "source", "n_chars", hv.alias("hv"))
    return top_k_per_group(d, "lang", ["hv", "doc_id"], _STRAT_K).select(
        "doc_id", "lang", "source", "n_chars", F.col("rn").cast("long").alias("stratum_rank")
    )


# --------------------------------------------------------------------------- #
# corpus_curation_v6 — BPE-exact token budgets close the curation loop         #
# --------------------------------------------------------------------------- #

_V6_BUDGET = 2000       # BPE tokens per training shard
_V6_MAX_TPW = 30000     # fertility gate: tokens-per-word x10000 <= 3.0
_V6_MIN_WORDS = 8


def _v6_oracle() -> str:
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        bpe_token_count_duckdb,
    )

    return f"""
    WITH words AS (
        SELECT doc_id, lang, text,
               LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                           x -> x != '') AS w
        FROM documents
    ),
    counted AS (
        SELECT doc_id, lang, text,
               CAST(LEN(w) AS BIGINT) AS ws_tokens,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(w,
                    x -> {bpe_token_count_duckdb('x')})), 0) AS BIGINT) AS bpe_tokens
        FROM words
    ),
    gated AS (
        SELECT * FROM counted
        WHERE ws_tokens >= {_V6_MIN_WORDS}
          AND bpe_tokens * 10000 // ws_tokens <= {_V6_MAX_TPW}
    ),
    deduped AS (
        SELECT doc_id, lang, bpe_tokens
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
              FROM gated)
        WHERE rn = 1
    ),
    packed AS (
        SELECT doc_id, lang,
               CAST('0x' || SUBSTR(MD5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {PACK_BUCKETS} AS bucket,
               bpe_tokens,
               CAST(SUM(bpe_tokens) OVER (
                    PARTITION BY lang,
                    CAST('0x' || SUBSTR(MD5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % {PACK_BUCKETS}
                    ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_tokens
        FROM deduped
    )
    SELECT lang, bucket, (cum_tokens - bpe_tokens) // {_V6_BUDGET} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(bpe_tokens) AS BIGINT) AS shard_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM packed
    GROUP BY lang, bucket, shard
    """


@register("corpus_curation_v6", oracle=_v6_oracle())
def corpus_curation_v6(spark, sf_dir):
    """Curation v6 — the tokenizer-exact close of the pipeline: per-doc BPE
    token counts (`bpe_apply_encode`'s zero-shuffle encoder) replace the
    whitespace approximation everywhere downstream.  Stages: (1) fertility
    gate — docs whose BPE tokens-per-word exceed {_mx}x10^-4 are gibberish
    to this tokenizer and docs under {_mw} words carry no signal; (2) exact
    dedup keeping the lowest doc_id per identical text (one window over the
    text key — at 100 TB the key is md5(text), same shuffle); (3) greedy
    packing of survivors into ~{_bd}-BPE-token shards inside (lang, md5
    bucket) windows — `pack_token_budget`'s bounded-window machinery, now
    fed exact counts; (4) the per-shard manifest a trainer consumes.
    Every stage is a map or a single bounded-window shuffle; the encoder
    itself adds zero shuffles, so v6 costs the same exchanges as v5's
    packing close while shipping the number the trainer actually bills by.
    Reference parity: the reference's ETL ships row counts only
    (dags/patient_claims_plus_postgres.py:168-199) — token accounting is
    the LLM-pipeline extension this engine adds."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        bpe_token_count_spark,
    )

    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # degenerate-scan guard (see sources.registry.spread_scan)
    tok = bpe_token_count_spark("w")
    counted = d.select(
        "doc_id",
        "lang",
        "text",
        F.expr(r"filter(split(trim(lower(text)), '\\s+'), x -> x != '')").alias("ws"),
    ).select(
        "doc_id",
        "lang",
        "text",
        F.size("ws").cast("long").alias("ws_tokens"),
        F.expr(f"aggregate(ws, cast(0 as bigint), (acc, w) -> acc + ({tok}))").alias(
            "bpe_tokens"
        ),
    )
    keyed = counted.select(
        "doc_id",
        "lang",
        "ws_tokens",
        "bpe_tokens",
        F.md5(F.col("text").cast("binary")).alias("tkey"),
    )
    # dedup partitions on the 32-hex md5 key, never the payload: the corpus
    # text stays OUT of the exchange and the window sort compares fixed-width
    # keys (the docstring's 100 TB contract, now also the measured plan).
    # The fertility gate runs AFTER the exchange, on materialized columns:
    # identical texts carry identical counts, so gate-then-dedup and
    # dedup-then-gate keep exactly the same survivors — and gating post-
    # exchange means the 56-replace encode fold is evaluated ONCE in the
    # pre-shuffle projection instead of once more inside a FilterExec
    # (runtime CSE cannot cross the Filter/Project operator boundary —
    # measured ~2x the encode cost before this restructure)
    deduped = (
        keep_first_by_key(keyed, "tkey")
        .filter(
            (F.col("ws_tokens") >= _V6_MIN_WORDS)
            & (F.expr("(bpe_tokens * 10000) div ws_tokens") <= _V6_MAX_TPW)
        )
        .select("doc_id", "lang", "bpe_tokens")
    )
    return (
        _packed(deduped, "bpe_tokens", _V6_BUDGET)
        .groupBy("lang", "bucket", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bpe_tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


fill_doc(corpus_curation_v6, _mx=_V6_MAX_TPW, _mw=_V6_MIN_WORDS, _bd=_V6_BUDGET)


# --------------------------------------------------------------------------- #
# corpus_mixture_refresh — freshness-weighted next-epoch mixture rebalance     #
# --------------------------------------------------------------------------- #

_REFRESH_BUDGET_TOKENS = 100_000  # next-epoch training-token budget


@register(
    "corpus_mixture_refresh",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, MD5(text) AS h,
               CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS BIGINT) AS ntok
        FROM documents
    ),
    recrawl AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 11 = 1 THEN MD5(text || ' refetched')
                    ELSE MD5(text) END AS h,
               CAST(LEN(STRING_SPLIT_REGEX(TRIM(
                   CASE WHEN doc_id % 11 = 1 THEN text || ' refetched'
                        ELSE text END), '\\s+')) AS BIGINT) AS ntok
        FROM documents WHERE doc_id % 11 != 0
        UNION ALL
        SELECT doc_id + 1000000, source, MD5(text || ' new'),
               CAST(LEN(STRING_SPLIT_REGEX(TRIM(text || ' new'), '\\s+')) AS BIGINT)
        FROM documents WHERE doc_id % 13 = 0
    ),
    j AS (
        SELECT r.source, r.ntok,
               (b.doc_id IS NULL OR b.h != r.h) AS fresh
        FROM base b FULL OUTER JOIN recrawl r ON b.doc_id = r.doc_id
        WHERE r.doc_id IS NOT NULL
    ),
    per_src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs_next,
               CAST(SUM(ntok) AS BIGINT) AS n_tokens_next,
               CAST(COALESCE(SUM(ntok) FILTER (WHERE fresh), 0) AS BIGINT)
                 AS fresh_tokens
        FROM j GROUP BY source
    ),
    w AS (
        SELECT source, n_docs_next, n_tokens_next, fresh_tokens,
               CAST(fresh_tokens AS DOUBLE) / n_tokens_next AS fresh_frac,
               SQRT(CAST(n_tokens_next AS DOUBLE))
                 * (1 + CAST(fresh_tokens AS DOUBLE) / n_tokens_next) AS wraw
        FROM per_src
    ),
    denom AS (
        SELECT LIST_REDUCE(LIST(wraw ORDER BY source), (acc, v) -> acc + v) AS z
        FROM w
    )
    SELECT source, n_docs_next, n_tokens_next, fresh_tokens, fresh_frac,
           wraw / z AS weight,
           wraw / z * {_REFRESH_BUDGET_TOKENS} / n_tokens_next AS sampling_rate,
           CAST(CEIL(wraw / z * {_REFRESH_BUDGET_TOKENS} / n_tokens_next) AS BIGINT)
             AS n_epochs
    FROM w, denom
    """,
)
def corpus_mixture_refresh(spark, sf_dir):
    """Freshness-weighted mixture rebalance — the query that closes the loop
    between the CDC family and the curation family: derive NEXT-epoch
    per-source sampling rates from recrawl deltas under a fixed token
    budget.  Sources whose recrawl carries more new/changed mass get
    upweighted (fresh data is what a refresh run exists to capture); stale
    sources keep their temperature-sampled base share.

    Stage 1 is `corpus_delta_report`'s CDC shape verbatim: both corpus
    snapshots reduce to (doc_id, source, content-hash, token-count) — ~60
    bytes/doc, text never enters the exchange — and one co-partitioned
    full-outer join classifies each next-epoch document as fresh (added or
    content-changed) vs carried-over; removed docs contribute no mass.
    Stage 2 is `corpus_mixture_plan`'s temperature rule with a freshness
    multiplier: weight_s ∝ sqrt(tokens_s) · (1 + fresh_tokens_s/tokens_s),
    normalized by an ORDERED fold over the source-sized aggregate (sqrt and
    each ratio are single correctly-rounded operations, the fold order is
    pinned by source — every emitted double is engine-identical); then
    sampling_rate = weight · budget / tokens, rate > 1 reported as repeat
    epochs.  The corpus-sized work is two scans + one join + one small
    aggregate; everything after is dimension-sized."""
    d = load_table(spark, sf_dir, "documents")
    ntok = lambda c: F.size(F.split(F.trim(c), r"\s+")).cast("long")  # noqa: E731
    base = d.select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        ntok(F.col("text")).alias("ntok"),
    )
    changed_text = F.when(
        F.col("doc_id") % 11 == 1, F.concat(F.col("text"), F.lit(" refetched"))
    ).otherwise(F.col("text"))
    recrawl = (
        d.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            "source",
            F.md5(changed_text.cast("binary")).alias("h"),
            ntok(changed_text).alias("ntok"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                "source",
                F.md5(F.concat(F.col("text"), F.lit(" new")).cast("binary")).alias("h"),
                ntok(F.concat(F.col("text"), F.lit(" new"))).alias("ntok"),
            )
        )
    )
    b, r = base.alias("b"), recrawl.alias("r")
    j = (
        b.join(r, F.col("b.doc_id") == F.col("r.doc_id"), "full_outer")
        .filter(F.col("r.doc_id").isNotNull())
        .select(
            F.col("r.source").alias("source"),
            F.col("r.ntok").alias("ntok"),
            (F.col("b.doc_id").isNull() | (F.col("b.h") != F.col("r.h"))).alias("fresh"),
        )
    )
    per_src = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_next"),
        F.sum("ntok").alias("n_tokens_next"),
        F.coalesce(F.sum(F.when(F.col("fresh"), F.col("ntok"))), F.lit(0))
        .cast("long")
        .alias("fresh_tokens"),
    )
    fresh_frac = F.col("fresh_tokens").cast("double") / F.col("n_tokens_next")
    wraw = F.sqrt(F.col("n_tokens_next").cast("double")) * (F.lit(1) + fresh_frac)
    return temperature_mixture(
        per_src.withColumn("fresh_frac", fresh_frac),
        "source",
        wraw,
        "n_tokens_next",
        _REFRESH_BUDGET_TOKENS,
    )


# --------------------------------------------------------------------------- #
# corpus_curation_v7 — line-cleanse-first curation (the FineWeb ordering)      #
# --------------------------------------------------------------------------- #


@register(
    "corpus_curation_v7",
    oracle=f"""
    WITH {_CDL_CTES},
    gated AS (
        SELECT doc_id, dedup_text,
               CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(dedup_text), '\\s+'),
                                    x -> x != '')) AS BIGINT) AS ntok
        FROM rebuilt
        WHERE n_removed * 2 <= n_lines AND dedup_text != ''
    ),
    sel AS (
        SELECT doc_id, ntok,
               ROW_NUMBER() OVER (PARTITION BY MD5(dedup_text)
                                  ORDER BY doc_id) AS rn
        FROM gated
    ),
    kept AS (SELECT doc_id, ntok FROM sel WHERE rn = 1)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(COUNT(g.doc_id) AS BIGINT) AS docs_after_gate,
           CAST(COUNT(k.doc_id) AS BIGINT) AS docs_kept,
           CAST(COALESCE(SUM(k.ntok), 0) AS BIGINT) AS kept_ws_tokens
    FROM documents d
    LEFT JOIN gated g ON g.doc_id = d.doc_id
    LEFT JOIN kept k ON k.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def corpus_curation_v7(spark, sf_dir):
    """Curation v7 — line-cleanse-FIRST, the FineWeb ordering: (1) remove
    cross-document boilerplate lines (`dedup_cross_doc_lines`' drop-all
    pass), (2) RETENTION GATE — a document that lost more than half its
    lines was mostly template and is dropped whole (integer comparison
    2·n_removed ≤ n_lines, never a float ratio), as is a document cleaned
    to empty, (3) exact dedup on the CLEANED text — the stage ordering
    that matters: stripping shared boilerplate makes previously-distinct
    pages identical, so doc-level dedup AFTER line cleansing catches
    collisions dedup-before-cleansing structurally cannot, (4) per-source
    accounting (docs in → past gate → kept, with surviving whitespace-token
    mass; the BPE-exact variant of token accounting is v6's demonstrated
    stage and composes here unchanged).

    Scale: the line pass is `cross_doc_line_dedup`'s plan (map-side
    segmentation, one 8-byte-keyed df shuffle, doc-keyed rebuild); the
    gate is a filter on materialized per-doc counters; the dedup window
    partitions on md5(cleaned text) MATERIALIZED map-side — `gated`
    projects to (doc_id, md5 hex, ntok) and drops the cleaned text
    BEFORE the window, so the exchange carries 32-hex-char keys and two
    numerics, never the document payload (the v6 exchange contract:
    payload never enters a shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    rebuilt = cross_doc_line_dedup(d, "doc_id", "text")
    gated = rebuilt.filter(
        (F.col("n_removed") * 2 <= F.col("n_lines")) & (F.col("dedup_text") != "")
    ).select(
        "doc_id",
        F.md5(F.col("dedup_text").cast("binary")).alias("dedup_key"),
        F.expr(r"size(filter(split(trim(dedup_text), '\\s+'), x -> x != ''))")
        .cast("long")
        .alias("ntok"),
    )
    kept = keep_first_by_key(gated, "dedup_key").select("doc_id", "ntok")
    g = gated.select(F.col("doc_id").alias("g_doc"))
    k = kept.select(F.col("doc_id").alias("k_doc"), "ntok")
    return (
        d.select("doc_id", "source")
        .join(g, F.col("doc_id") == F.col("g_doc"), "left")
        .join(k, F.col("doc_id") == F.col("k_doc"), "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.count("g_doc").alias("docs_after_gate"),
            F.count("k_doc").alias("docs_kept"),
            F.coalesce(F.sum("ntok"), F.lit(0)).cast("long").alias("kept_ws_tokens"),
        )
    )


# --------------------------------------------------------------------------- #
# layout_zorder_locality — Morton-clustered shard manifest (2-D file skipping) #
# --------------------------------------------------------------------------- #

_Z_BITS = 8
_Z_BUCKETS = 1 << _Z_BITS
_Z_SHARDS = 8


def _z_interleave_sql(qc: str, qp: str, bits: int = _Z_BITS) -> str:
    """SQL text of the Morton interleave (col 0 → even bits, col 1 → odd) —
    the same bit arithmetic operators.layout.zorder_key_int emits."""
    terms: list[str] = []
    for b in range(bits):
        terms.append(f"((({qc}) >> {b}) & 1) * {1 << (2 * b)}")
        terms.append(f"((({qp}) >> {b}) & 1) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    n_ref = "(SELECT n FROM n)"
    bounds = ", ".join(
        f"(SELECT MIN(v) FROM cum WHERE cum >= ({i} * {n_ref} + {_Z_SHARDS - 1}) // {_Z_SHARDS}) AS b{i}"
        for i in range(1, _Z_SHARDS)
    )
    gt_sum = " + ".join(
        f"CASE WHEN z.zkey > b.b{i} THEN 1 ELSE 0 END" for i in range(1, _Z_SHARDS)
    )
    return f"""
    WITH stats AS (
        SELECT MIN(o_custkey) AS lo_c, MAX(o_custkey) AS hi_c,
               MIN(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS lo_p,
               MAX(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS hi_p
        FROM orders
    ),
    q AS (
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
               ((o_custkey - lo_c) * {_Z_BUCKETS}) // (hi_c - lo_c + 1) AS qc,
               ((CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) - lo_p) * {_Z_BUCKETS}) // (hi_p - lo_p + 1) AS qp
        FROM orders CROSS JOIN stats
    ),
    z AS (
        SELECT o_orderkey, o_custkey, cents,
               CAST({_z_interleave_sql("qc", "qp")} AS BIGINT) AS zkey
        FROM q
    ),
    h AS (SELECT zkey AS v, CAST(COUNT(*) AS BIGINT) AS c FROM z GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
    cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
    b AS (SELECT {bounds}),
    assigned AS (
        SELECT z.o_custkey, z.cents, z.zkey, 1 + {gt_sum} AS shard_id
        FROM z CROSS JOIN b
    )
    SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(zkey) AS z_lo, MAX(zkey) AS z_hi,
           MIN(o_custkey) AS cust_lo, MAX(o_custkey) AS cust_hi,
           MIN(cents) AS cents_lo, MAX(cents) AS cents_hi
    FROM assigned GROUP BY shard_id
    """


@register("layout_zorder_locality", oracle=_zorder_oracle())
def layout_zorder_locality(spark, sf_dir):
    """Z-order (Morton) clustering manifest over orders on the 2-D key
    (o_custkey, price cents): equi-width integer quantization of each
    dimension to 8 bits, bit interleave, then EXACT histogram-quantile range
    shards on the Z key (corpus_range_shards' boundary machinery — no
    sampling RangePartitioner, so the manifest is byte-reproducible), and
    per-shard min/max spans of BOTH source dimensions.  This is the layout
    planner for multi-dimensional file skipping (what Delta OPTIMIZE ZORDER
    does): every shard's parquet footer would carry narrow ranges on both
    custkey AND price, so point/range predicates on either column prune
    files.  Scale shape: one scalar min/max aggregate (broadcast), one
    map-side quantize+interleave pass, a histogram over ≤ 2^16 distinct Z
    values (the only windowed stage — value-histogram-sized, not
    corpus-sized), and one broadcast of 7 boundary scalars; integer
    arithmetic end to end ⇒ hash-exact."""
    def with_key(q):
        return q.select("*", zorder_key_int([F.col("qc"), F.col("qp")], bits=_Z_BITS, alias="key"))

    return _curve_shard_manifest(spark, sf_dir, with_key, "z")


def _curve_shard_manifest(spark, sf_dir, with_key, prefix: str) -> DataFrame:
    """Per-shard manifest of orders range-sharded on a 2-D space-filling
    curve: (o_custkey, price cents) equi-width quantized to _Z_BUCKETS
    buckets each over one broadcast min/max row → ``with_key`` appends the
    curve distance ``key`` → exact range shards → per-shard spans of the
    key ({prefix}_lo/_hi) and of both source dimensions."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast(T.DecimalType(14, 2)) * 100).cast("bigint")
    stats = o.agg(
        F.min("o_custkey").alias("lo_c"),
        F.max("o_custkey").alias("hi_c"),
        F.min(cents).alias("lo_p"),
        F.max(cents).alias("hi_p"),
    )
    q = (
        o.select("o_custkey", cents.alias("cents"))
        .crossJoin(F.broadcast(stats))
        .select(
            "o_custkey",
            "cents",
            equi_width_bucket_int("o_custkey", "lo_c", "hi_c", _Z_BUCKETS).alias("qc"),
            equi_width_bucket_int("cents", "lo_p", "hi_p", _Z_BUCKETS).alias("qp"),
        )
    )
    keyed = with_key(q).select("o_custkey", "cents", "key")
    return exact_range_shards(keyed, "key", _Z_SHARDS).groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("key").alias(f"{prefix}_lo"),
        F.max("key").alias(f"{prefix}_hi"),
        F.min("o_custkey").alias("cust_lo"),
        F.max("o_custkey").alias("cust_hi"),
        F.min("cents").alias("cents_lo"),
        F.max("cents").alias("cents_hi"),
    )


# --------------------------------------------------------------------------- #
# split_temporal_embargo — leakage-safe time-based split (round 11)            #
# --------------------------------------------------------------------------- #

_EMBARGO_US = 3_600_000_000  # 1 hour


@register(
    "split_temporal_embargo",
    oracle=f"""
    WITH b AS (
        SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    cut AS (SELECT lo + (hi - lo) * 7 // 10 AS t FROM b),
    labeled AS (
        SELECT CASE WHEN epoch_us(e.ts) < c.t THEN 'train'
                    WHEN epoch_us(e.ts) >= c.t + {_EMBARGO_US} THEN 'test'
                    ELSE 'embargoed' END AS split,
               e.user_id, epoch_us(e.ts) AS us
        FROM events e CROSS JOIN cut c
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(us) AS lo_us, MAX(us) AS hi_us
    FROM labeled GROUP BY split
    """,
)
def split_temporal_embargo(spark, sf_dir):
    """Time-based train/test split with an embargo gap — the third member of
    the split trilogy (hash split_train_test_hash, near-dup
    split_cluster_aware, temporal this): train is everything before the 70 %
    time cut, test everything at least one hour AFTER it, and the hour in
    between is EMBARGOED (dropped) so no test example is within the
    information horizon of any train example — the purged-split discipline
    time-series/finance ML uses against look-ahead leakage (López de Prado,
    public literature).  Integer-µs cut arithmetic (float timestamp math rounds
    differently across engines; bigints don't).  Output is the split
    manifest; the structural test asserts the hard gap max(train ts) +
    embargo <= min(test ts).  One map-side label pass + one tiny aggregate —
    no shuffle beyond the 3-group rollup."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    b = ev.agg(
        F.unix_micros(F.min("ts")).alias("lo"), F.unix_micros(F.max("ts")).alias("hi")
    )
    us = F.unix_micros("ts")
    cut = F.expr("lo + (hi - lo) * 7 div 10")
    labeled = ev.crossJoin(F.broadcast(b)).select(
        F.when(us < cut, "train")
        .when(us >= cut + _EMBARGO_US, "test")
        .otherwise("embargoed")
        .alias("split"),
        "user_id",
        us.alias("us"),
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("us").alias("lo_us"),
        F.max("us").alias("hi_us"),
    )


# --------------------------------------------------------------------------- #
# rag_chunk_sliding — retrieval-side chunking + chunk-level exact dedup        #
# --------------------------------------------------------------------------- #
_RAG_CHUNK_TOKENS = 32  # chunk width in whitespace tokens
_RAG_CHUNK_STRIDE = 16  # 50 % overlap — the standard RAG sliding window


@register(
    "rag_chunk_sliding",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id,
               string_split(TRIM(REGEXP_REPLACE(text, '[ \t\r\n]+', ' ', 'g')), ' ') AS toks
        FROM documents
        WHERE text IS NOT NULL AND TRIM(REGEXP_REPLACE(text, '[ \t\r\n]+', ' ', 'g')) <> ''
    ),
    sized AS (
        SELECT doc_id, toks, len(toks) AS ntok,
               CASE WHEN len(toks) <= {_RAG_CHUNK_TOKENS} THEN 1
                    ELSE CAST(CEIL((len(toks) - {_RAG_CHUNK_TOKENS}) / {_RAG_CHUNK_STRIDE}.0) AS BIGINT) + 1
               END AS n_chunks
        FROM norm
    ),
    chunks AS (
        SELECT doc_id,
               u.chunk_idx,
               LEAST(ntok - u.chunk_idx * {_RAG_CHUNK_STRIDE}, {_RAG_CHUNK_TOKENS}) AS chunk_ntok,
               MD5(array_to_string(
                   list_slice(toks,
                              u.chunk_idx * {_RAG_CHUNK_STRIDE} + 1,
                              u.chunk_idx * {_RAG_CHUNK_STRIDE} + {_RAG_CHUNK_TOKENS}), ' ')) AS chunk_hash
        FROM sized, LATERAL (SELECT UNNEST(range(0, n_chunks)) AS chunk_idx) u
    )
    SELECT doc_id, chunk_idx, chunk_ntok, chunk_hash,
           (ROW_NUMBER() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) = 1)
               AS is_canonical
    FROM chunks
    """,
)
def rag_chunk_sliding(spark, sf_dir):
    """Sliding-window RAG chunking with chunk-level exact dedup — the
    retrieval-side sibling of ``pack_token_budget``: split every document
    into 32-token chunks at stride 16 (50 % overlap), give each chunk a
    stable id (doc_id, chunk_idx) and a content hash, and mark the
    first-writer canonical copy per distinct chunk text (overlapping strides
    and boilerplate paragraphs make chunk-level duplicates the norm — an
    embedding pipeline pays per chunk, so the dedup IS the cost model).

    Scale posture: tokenize/slice/hash are map-side HOFs over the document
    scan — the chunk TEXT never leaves the map stage; only (doc_id,
    chunk_idx, ntok, 32-byte hash) is shuffled.  Canonical selection is a
    packed-long MIN HashAggregate + an equi-join on the hash (the
    ``exact_dedup_representatives`` shape), NOT a per-key sort window, so a
    boilerplate chunk duplicated 10^9 times collapses map-side under partial
    aggregation instead of serializing one hot sort partition.  At 100 TB
    the chunk volume is ~2x token volume (stride = width/2); both shuffles
    carry ~56-byte rows."""
    from airflow_cms_inpatient_etl_spark.operators.text import (
        packed_first_writer_key,
        sliding_chunks,
    )

    d = load_table(spark, sf_dir, "documents")
    chunks = sliding_chunks(
        d, "doc_id", "text", width=_RAG_CHUNK_TOKENS, stride=_RAG_CHUNK_STRIDE
    )
    # First-writer key packed into ONE long so the MIN stays a HashAggregate;
    # chunk_idx < 2^20 means docs under ~16.7M tokens (split earlier in any
    # real pipeline), doc_id < 2^43 — out-of-domain raises loudly.  The
    # expression lives in operators/text.py and is shared with the guard test
    # so the bit widths cannot drift.
    keyed = chunks.withColumn(
        "_pk", packed_first_writer_key("doc_id", "chunk_idx", "rag_chunk_sliding")
    )
    firsts = keyed.groupBy("chunk_hash").agg(F.min("_pk").alias("_first_pk"))
    return keyed.join(firsts, "chunk_hash").select(
        "doc_id",
        "chunk_idx",
        "chunk_ntok",
        "chunk_hash",
        (F.col("_pk") == F.col("_first_pk")).alias("is_canonical"),
    )


# --------------------------------------------------------------------------- #
# pack_concat_chunks — concat-and-chunk context-window packing                 #
# --------------------------------------------------------------------------- #
_PACK_CTX = 512  # context-window width in tokens
_PACK_SHARDS = 8  # independent concat streams (cluster-parallelism unit)


@register(
    "pack_concat_chunks",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(string_split(TRIM(REGEXP_REPLACE(text, '[ \t\r\n]+', ' ', 'g')), ' '))
                   AS ntok,
               CAST('0x' || SUBSTR(MD5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM documents
        WHERE text IS NOT NULL
          AND TRIM(REGEXP_REPLACE(text, '[ \t\r\n]+', ' ', 'g')) <> ''
    ),
    placed AS (
        SELECT doc_id, ntok, hv, hv % {_PACK_SHARDS} AS shard,
               COALESCE(SUM(ntok) OVER (
                   PARTITION BY hv % {_PACK_SHARDS}
                   ORDER BY hv, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        FROM toks
    ),
    spans AS (
        SELECT shard, doc_id, ntok, start, start + ntok AS fin,
               u.win
        FROM placed, LATERAL (
            SELECT UNNEST(range(CAST(start // {_PACK_CTX} AS BIGINT), CAST((start + ntok - 1) // {_PACK_CTX} + 1 AS BIGINT))) AS win
        ) u
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(win AS BIGINT) AS window_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(fin, (win + 1) * {_PACK_CTX}) - GREATEST(start, win * {_PACK_CTX}))
                AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE start < win * {_PACK_CTX}) AS BIGINT) AS n_continuing
    FROM spans
    GROUP BY shard, win
    """,
)
def pack_concat_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing — THE standard LLM-pretraining
    layout step: documents are concatenated in a deterministic
    (portable-hash, doc_id) order within each of 8 shards and
    the token stream is cut into fixed 512-token context windows; the
    output accounts every window's composition (docs touching it, tokens
    it actually holds, docs CONTINUING across its left boundary — the
    cross-document-attention fraction trainers monitor).  Differs from
    ``pack_token_budget`` (which assigns whole docs to budgeted shards) by
    modelling the intra-shard WINDOW layout, including document splitting:
    interval arithmetic on [start, start+ntok) spans, no text movement.

    Scale: tokens are COUNTED map-side (the text never leaves the scan
    projection); the per-shard running offset is one window cumsum whose
    partition count is the shard count — shards ARE the parallelism unit,
    so at 100 TB you set shards ~ O(cores) and each task scans its shard's
    (doc_id, ntok) pairs, never the text.  The span -> window explode emits
    ceil(ntok/512)+1 rows per doc (~2x row count), then ONE (shard, window)
    groupBy with map-side partials.  All integer arithmetic — hash-exact
    against the oracle."""
    from airflow_cms_inpatient_etl_spark.operators.text import token_counts_ws

    d = load_table(spark, sf_dir, "documents")
    toks = token_counts_ws(d, "doc_id", "text").select(
        "doc_id",
        "ntok",
        hash60(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))).alias("hv"),
    )
    shard = (F.col("hv") % _PACK_SHARDS).alias("shard")
    w = (
        W.partitionBy(F.col("hv") % _PACK_SHARDS)
        .orderBy("hv", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    placed = toks.select(
        "doc_id",
        "ntok",
        "hv",
        shard,
        F.coalesce(F.sum("ntok").over(w), F.lit(0)).cast("long").alias("start"),
    ).withColumn("fin", F.col("start") + F.col("ntok"))
    spans = placed.select(
        "shard",
        "start",
        "fin",
        F.explode(
            F.sequence(
                F.expr(f"start div {_PACK_CTX}"),
                F.expr(f"(fin - 1) div {_PACK_CTX}"),
            )
        ).alias("window_idx"),
    )
    lo = F.col("window_idx") * _PACK_CTX
    hi = (F.col("window_idx") + 1) * _PACK_CTX
    return spans.groupBy("shard", "window_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.least(F.col("fin"), hi) - F.greatest(F.col("start"), lo))
        .cast("long")
        .alias("n_tokens"),
        F.sum(F.when(F.col("start") < lo, 1).otherwise(0)).cast("long").alias("n_continuing"),
    )


# --------------------------------------------------------------------------- #
# pack_shelf_bins — no-split shelf packing (the SFT counterpart)               #
# --------------------------------------------------------------------------- #
_SHELF_CTX = 512  # context-window width in tokens
_SHELF_SHARDS = 8


@register(
    "pack_shelf_bins",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(string_split(TRIM(REGEXP_REPLACE(text, '[ \t\r\n]+', ' ', 'g')), ' '))
                   AS ntok,
               CAST('0x' || SUBSTR(MD5('shelf:' || CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM documents
        WHERE text IS NOT NULL
          AND TRIM(REGEXP_REPLACE(text, '[ \t\r\n]+', ' ', 'g')) <> ''
    ),
    classed AS (
        SELECT doc_id, ntok, hv, hv % {_SHELF_SHARDS} AS shard,
               GREATEST(CAST({_SHELF_CTX} // ntok AS BIGINT), 1) AS cls
        FROM toks
    ),
    binned AS (
        SELECT shard, cls, doc_id, ntok,
               (ROW_NUMBER() OVER (PARTITION BY shard, cls ORDER BY hv, doc_id) - 1)
                   // cls AS bin_idx
        FROM classed
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(cls AS BIGINT) AS capacity_class,
           CAST(bin_idx AS BIGINT) AS bin_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(ntok) AS DOUBLE) / {_SHELF_CTX}.0 AS utilization,
           MAX(ntok) > {_SHELF_CTX} AS has_overflow_doc
    FROM binned
    GROUP BY shard, cls, bin_idx
    """,
)
def pack_shelf_bins(spark, sf_dir):
    """No-split shelf packing — the instruction-tuning counterpart of
    ``pack_concat_chunks``: when documents must NOT cross example
    boundaries (SFT / preference pairs), pack them whole into 512-token
    windows by CAPACITY CLASS (class c = how many docs of this length fit
    one window, c = max(1, 512 div ntok)); within (shard, class) the
    hash-ordered rank r lands doc r in bin (r-1) div c — c same-class docs
    per window, total waste bounded by the harmonic shelf-packing argument
    (each non-final bin in class c is >= c/(c+1) full by construction:
    every doc in the class has ntok > 512/(c+1)).  Docs longer than one
    window form class 1 with ``has_overflow_doc`` raised — the split
    decision is escalated, never silent (those route to
    ``pack_concat_chunks``).

    Scale: class assignment is map-side arithmetic on (doc_id, ntok) —
    the text never leaves the scan; ranks are windows over (shard, class)
    partitions, so parallelism = shards x ~O(ln 512) occupied classes and
    no partition ever sees more than its shard's share.  All integer until
    the utilization ratio (one IEEE division)."""
    from airflow_cms_inpatient_etl_spark.operators.text import token_counts_ws

    d = load_table(spark, sf_dir, "documents")
    toks = token_counts_ws(d, "doc_id", "text").select(
        "doc_id",
        "ntok",
        hash60(F.concat(F.lit("shelf:"), F.col("doc_id").cast("string"))).alias("hv"),
    )
    classed = toks.select(
        "doc_id",
        "ntok",
        "hv",
        (F.col("hv") % _SHELF_SHARDS).alias("shard"),
        F.greatest(F.expr(f"{_SHELF_CTX} div ntok"), F.lit(1).cast("long")).alias("cls"),
    )
    w = W.partitionBy("shard", "cls").orderBy("hv", "doc_id")
    binned = classed.withColumn(
        "_r0", (F.row_number().over(w) - 1).cast("long")
    ).withColumn("bin_idx", F.expr("_r0 div cls"))
    return binned.groupBy("shard", F.col("cls").alias("capacity_class"), "bin_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        (F.sum("ntok").cast("double") / F.lit(float(_SHELF_CTX))).alias("utilization"),
        (F.max("ntok") > _SHELF_CTX).alias("has_overflow_doc"),
    )


# --------------------------------------------------------------------------- #
# layout_hilbert_locality — Hilbert-clustered shard manifest (round 14)        #
# --------------------------------------------------------------------------- #


def _hilbert_oracle() -> str:
    """Unrolled xy2d recurrence + the zorder query's boundary machinery, on
    the same quantization CTEs, so the two manifests are directly
    comparable row-for-row."""
    n_grid = _Z_BUCKETS
    n_ref = "(SELECT n FROM n)"
    bounds = ", ".join(
        f"(SELECT MIN(v) FROM cum WHERE cum >= ({i} * {n_ref} + {_Z_SHARDS - 1}) // {_Z_SHARDS}) AS b{i}"
        for i in range(1, _Z_SHARDS)
    )
    gt_sum = " + ".join(
        f"CASE WHEN z.hkey > b.b{i} THEN 1 ELSE 0 END" for i in range(1, _Z_SHARDS)
    )
    levels = []
    s = n_grid // 2
    i = 0
    prev = "hb0"
    while s > 0:
        i += 1
        levels.append(f"""
    rb{i} AS (
        SELECT o_orderkey, o_custkey, cents, d, x, y,
               (x // {s}) % 2 AS rx, (y // {s}) % 2 AS ry
        FROM {prev}
    ),
    hb{i} AS (
        SELECT o_orderkey, o_custkey, cents,
               d + {s * s} * (3 * rx + ry - 2 * rx * ry) AS d,
               CASE WHEN ry = 1 THEN x
                    WHEN rx = 1 THEN {n_grid - 1} - y
                    ELSE y END AS x,
               CASE WHEN ry = 1 THEN y
                    WHEN rx = 1 THEN {n_grid - 1} - x
                    ELSE x END AS y
        FROM rb{i}
    )""")
        prev = f"hb{i}"
        s //= 2
    return f"""
    WITH stats AS (
        SELECT MIN(o_custkey) AS lo_c, MAX(o_custkey) AS hi_c,
               MIN(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS lo_p,
               MAX(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS hi_p
        FROM orders
    ),
    hb0 AS (
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
               CAST(0 AS BIGINT) AS d,
               ((o_custkey - lo_c) * {_Z_BUCKETS}) // (hi_c - lo_c + 1) AS x,
               ((CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) - lo_p)
                   * {_Z_BUCKETS}) // (hi_p - lo_p + 1) AS y
        FROM orders CROSS JOIN stats
    ),{",".join(levels)[1:]},
    z AS (SELECT o_orderkey, o_custkey, cents, d AS hkey FROM {prev}),
    h AS (SELECT hkey AS v, CAST(COUNT(*) AS BIGINT) AS c FROM z GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
    cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
    b AS (SELECT {bounds}),
    assigned AS (
        SELECT z.o_custkey, z.cents, z.hkey, 1 + {gt_sum} AS shard_id
        FROM z CROSS JOIN b
    )
    SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(hkey) AS h_lo, MAX(hkey) AS h_hi,
           MIN(o_custkey) AS cust_lo, MAX(o_custkey) AS cust_hi,
           MIN(cents) AS cents_lo, MAX(cents) AS cents_hi,
           CAST((MAX(o_custkey) - MIN(o_custkey) + 1)
                * (MAX(cents) - MIN(cents) + 1) AS BIGINT) AS bbox_area
    FROM assigned GROUP BY shard_id
    """


@register("layout_hilbert_locality", oracle=_hilbert_oracle())
def layout_hilbert_locality(spark, sf_dir):
    """Hilbert-curve clustering manifest over orders on the same 2-D key,
    quantization, and exact histogram-quantile boundary machinery as
    ``layout_zorder_locality`` — the SFC modern lakehouse clustering moved
    to (e.g. Databricks liquid clustering), because consecutive Hilbert
    keys are ALWAYS spatially adjacent while the Morton curve's quadrant
    seams let one shard straddle distant regions.  Emits the same per-shard
    spans plus the explicit bbox_area column, so the Hilbert and Z-order
    manifests are comparable row-for-row (tests assert the Hilbert total
    bounding-box area is no worse than Z-order's on this data).

    Scale shape: identical to the Z-order row — one scalar-stats broadcast,
    ONE map-side projection per curve level (the unrolled xy2d recurrence;
    ``operators/layout.with_hilbert_key``), a histogram over <= 2^16
    distinct curve keys (the only windowed stage), and 7 boundary scalars
    broadcast back.  Integer arithmetic end to end => hash-exact, including
    the curve itself (the operator's 4x4/8x8/16x16 tables are verified
    cell-for-cell against the public xy2d recurrence in tests)."""
    def with_key(q):
        return with_hilbert_key(q, "qc", "qp", bits=_Z_BITS, out="key")

    m = _curve_shard_manifest(spark, sf_dir, with_key, "h")
    bbox = (F.col("cust_hi") - F.col("cust_lo") + 1) * (F.col("cents_hi") - F.col("cents_lo") + 1)
    return m.withColumn("bbox_area", bbox.cast("long"))
