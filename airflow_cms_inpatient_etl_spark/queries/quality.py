"""Model-based quality scoring queries (round 6): CCNet-style bigram-LM
perplexity against a reference slice, and the curation-v4 composition that
buckets the corpus into per-language head/middle/tail quality terciles.

Reference-parity note: the reference repo's surface is Airflow/Postgres ETL
glue (dags/patient_claims_plus_postgres.py) with no LM stage; this family is
part of the demanded LLM-data-pipeline extension (CCNet, Wenzek et al. 2019,
public method).  Exactness recipe: identical expression text on both engines,
position-ordered log-prob folds, ROUND(...,6) to absorb cross-engine log2
ulps — the contract proven by the entropy scorer.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pyspark.sql import DataFrame

from airflow_cms_inpatient_etl_spark.operators.layout import exact_range_shards
from airflow_cms_inpatient_etl_spark.operators.text import hash60
from airflow_cms_inpatient_etl_spark.sources.registry import snapshot
from airflow_cms_inpatient_etl_spark.operators.lm import (
    exploded_bigrams,
    score_bits_per_token,
    train_bigram_lm,
)
from airflow_cms_inpatient_etl_spark.queries.base import register
from airflow_cms_inpatient_etl_spark.sources.registry import load_table, spread_scan

_REF_LANG = "en"  # the trusted reference slice (CCNet uses Wikipedia)

# Shared oracle CTE block: tokenize, explode positional bigrams, train the
# add-one bigram model on the reference slice, score every document.  The
# log-prob fold is LIST_REDUCE over LIST(logp ORDER BY pos) — seedless left
# fold, equal to Spark's 0.0-seeded fold because 0.0 + x == x for the
# nonzero logps.  vocab = |distinct ref tokens| + 1 (OOV bucket), matching
# train_bigram_lm exactly.
_LM_CTES = f"""
    toks AS (
        SELECT doc_id, lang, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    bgl AS (
        SELECT doc_id, lang,
               LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 1, 0) + 1),
                              i -> {{'pos': i, 'w1': w[i], 'w2': w[i+1]}}) AS pairs
        FROM toks
    ),
    bg AS (
        SELECT doc_id, lang, u.pos AS pos, u.w1 AS w1, u.w2 AS w2
        FROM (SELECT doc_id, lang, UNNEST(pairs) AS u FROM bgl)
    ),
    refbg AS (SELECT w1, w2 FROM bg WHERE lang = '{_REF_LANG}'),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM refbg GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM refbg GROUP BY 1),
    refu AS (
        SELECT DISTINCT UNNEST(w) AS tok FROM toks WHERE lang = '{_REF_LANG}'
    ),
    vs AS (SELECT COUNT(*) + 1 AS vocab FROM refu),
    lp AS (
        SELECT bg.doc_id, bg.pos,
               LOG2((COALESCE(c2.c2, 0) + 1.0)
                    / (COALESCE(c1.c1, 0) + vocab + 0.0)) AS logp
        FROM bg CROSS JOIN vs
        LEFT JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
        LEFT JOIN c1 ON c1.w1 = bg.w1
    ),
    lm AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(-LIST_REDUCE(LIST(logp ORDER BY pos), (x, y) -> x + y)
                     / COUNT(*), 6) AS bits_per_token
        FROM lp GROUP BY doc_id
    )
"""


@register(
    "quality_lm_perplexity",
    oracle=f"""
    WITH {_LM_CTES}
    SELECT doc_id, n_bigrams, bits_per_token FROM lm
    """,
)
def quality_lm_perplexity(spark, sf_dir):
    """Per-document bigram-LM quality score (bits-per-token = log2
    perplexity) against the English reference slice — the model-based
    quality stage of a CCNet-style curation pipeline.  Training is one
    groupBy over the reference slice; scoring is explode → two BROADCAST
    joins (the count model is the small side by construction) → one per-doc
    aggregation whose log-prob sum folds in position order.  All JVM, one
    scoring shuffle; see ``operators.lm`` for the 100 TB contract."""
    return _ref_lm_scores(load_table(spark, sf_dir, "documents"))


def _ref_lm_scores(d: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, bits_per_token) of every document under the
    bigram LM trained on the _REF_LANG reference slice of ``d``."""
    c2, c1, vocab = train_bigram_lm(d.filter(F.col("lang") == _REF_LANG))
    return score_bits_per_token(d, c2, c1, vocab)


def _lang_lm_terciles(scored: DataFrame) -> DataFrame:
    """(lang, lm_t33, lm_t66): exact per-language tercile cut points of
    ``bits_per_token`` (rounded like the scores) — one tiny aggregate the
    callers broadcast back onto the scored rows."""
    return scored.groupBy("lang").agg(
        F.round(F.percentile("bits_per_token", F.lit(0.333333)), 6).alias("lm_t33"),
        F.round(F.percentile("bits_per_token", F.lit(0.666667)), 6).alias("lm_t66"),
    )


@register(
    "corpus_curation_v4",
    oracle=f"""
    WITH {_LM_CTES},
    scored AS (
        SELECT lm.doc_id, d.lang, lm.n_bigrams, lm.bits_per_token
        FROM lm JOIN documents d ON d.doc_id = lm.doc_id
    ),
    pct AS (
        SELECT lang,
               ROUND(QUANTILE_CONT(bits_per_token, 0.333333), 6) AS lm_t33,
               ROUND(QUANTILE_CONT(bits_per_token, 0.666667), 6) AS lm_t66
        FROM scored GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.n_bigrams, s.bits_per_token, lm_t33, lm_t66,
           CASE WHEN s.bits_per_token <= lm_t33 THEN 'head'
                WHEN s.bits_per_token <= lm_t66 THEN 'middle'
                ELSE 'tail' END AS bucket,
           (s.bits_per_token <= lm_t66 AND s.n_bigrams >= 5) AS keep
    FROM scored s JOIN pct ON pct.lang = s.lang
    """,
)
def corpus_curation_v4(spark, sf_dir):
    """Curation v4 — the CCNet head/middle/tail split: score every document
    with the bigram-LM (v4's model-based stage), then bucket into quality
    terciles PER LANGUAGE (per-language exact tercile cut points via a
    broadcast percentile join, the winsorize recipe) and keep the
    head+middle.  Plan: one scoring pass (explode + broadcast model joins +
    one per-doc aggregation), one tiny per-lang percentile aggregate
    broadcast back — two shuffles total beyond the scan."""
    d = load_table(spark, sf_dir, "documents")
    # snapshot: the per-doc score table feeds BOTH the percentile aggregate
    # and the final projection (Catalyst does not CSE sibling subplans —
    # without the snapshot the explode+join scoring pass would run twice).
    # Tracked snapshot, not persist: released via registry.release_snapshots,
    # no per-invocation CacheManager pin.
    scored = snapshot(_ref_lm_scores(d).join(d.select("doc_id", "lang"), "doc_id"))
    return scored.join(F.broadcast(_lang_lm_terciles(scored)), "lang").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "bits_per_token",
        "lm_t33",
        "lm_t66",
        F.when(F.col("bits_per_token") <= F.col("lm_t33"), "head")
        .when(F.col("bits_per_token") <= F.col("lm_t66"), "middle")
        .otherwise("tail")
        .alias("bucket"),
        ((F.col("bits_per_token") <= F.col("lm_t66")) & (F.col("n_bigrams") >= 5)).alias(
            "keep"
        ),
    )


# --------------------------------------------------------------------------- #
# quality_linear_score — distilled linear quality classifier, integer weights  #
# --------------------------------------------------------------------------- #

_QL_STOPS = ("the", "a", "value", "table")  # high-df function-word proxies
_QL_THRESHOLD = 1650  # keep-gate on the milli-unit score (~60% pass at the fixture)


@register(
    "quality_linear_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    f AS (
        SELECT doc_id, lang,
               CAST(LEN(w) AS BIGINT) AS n_tokens,
               CAST(LEN(LIST_DISTINCT(w)) AS BIGINT) AS n_uniq,
               CAST(LEN(LIST_FILTER(w, x -> x IN {_QL_STOPS!r})) AS BIGINT) AS n_stop
        FROM t
    ),
    s AS (
        SELECT doc_id, lang, n_tokens, n_uniq, n_stop,
               (n_uniq * 1000) // n_tokens AS ttr_milli,
               (n_stop * 1000) // n_tokens AS stop_milli
        FROM f WHERE n_tokens > 0
    )
    SELECT doc_id, lang, n_tokens, n_uniq, n_stop, ttr_milli, stop_milli,
           3 * ttr_milli - 2 * stop_milli + 10 * LEAST(n_tokens, 100) AS score_milli,
           (3 * ttr_milli - 2 * stop_milli + 10 * LEAST(n_tokens, 100))
               >= {_QL_THRESHOLD} AS keep
    FROM s
    """,
)
def quality_linear_score(spark, sf_dir):
    """Distilled linear quality classifier — the fastText/DCLM-style filter
    stage expressed as a JVM dot product over engineered integer features:
    type-token ratio, stopword rate (both in exact milli-units via integer
    division) and a capped length feature, combined with integer-quantized
    weights (w = [3, -2, 10]) and thresholded into a keep gate.  Production
    swaps the hand-set weights for logistic-regression coefficients
    quantized the same way; the serving plan is identical — ONE projection
    over the scan, zero shuffles, every feature exact, so a trained
    classifier deploys as a literal change.  Complements the generative
    (perplexity) scorer: this is the discriminative half of the standard
    two-model curation stack."""
    scored = _linear_scores(load_table(spark, sf_dir, "documents"))
    return scored.select("*", (F.col("score_milli") >= _QL_THRESHOLD).alias("keep"))


def _linear_scores(d: DataFrame) -> DataFrame:
    """(doc_id, lang, n_tokens, n_uniq, n_stop, ttr_milli, stop_milli,
    score_milli) of every non-empty document: the integer linear-classifier
    features and their dot product with the weights [3, -2, 10]."""
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    feats = d.select(
        "doc_id",
        "lang",
        F.size(w).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_uniq"),
        F.size(F.filter(w, lambda x: x.isin(*_QL_STOPS))).cast("bigint").alias("n_stop"),
    ).filter(F.col("n_tokens") > 0)
    scored = feats.select(
        "*",
        F.expr("(n_uniq * 1000) div n_tokens").alias("ttr_milli"),
        F.expr("(n_stop * 1000) div n_tokens").alias("stop_milli"),
    )
    score = (
        F.lit(3) * F.col("ttr_milli")
        - F.lit(2) * F.col("stop_milli")
        + F.lit(10) * F.least(F.col("n_tokens"), F.lit(100).cast("bigint"))
    )
    return scored.select("*", score.alias("score_milli"))


# --------------------------------------------------------------------------- #
# corpus_curation_v5 — discriminative + generative gates → shard manifest      #
# --------------------------------------------------------------------------- #

_V5_SHARDS = 4


def _v5_oracle() -> str:
    n_ref = "(SELECT n FROM n)"
    bounds = ", ".join(
        f"(SELECT MIN(v) FROM cum WHERE cum >= ({i} * {n_ref} + {_V5_SHARDS - 1}) // {_V5_SHARDS}) AS b{i}"
        for i in range(1, _V5_SHARDS)
    )
    gt_sum = " + ".join(
        f"CASE WHEN k.n_chars > b.b{i} THEN 1 ELSE 0 END" for i in range(1, _V5_SHARDS)
    )
    return f"""
    WITH {_LM_CTES},
    lin AS (
        SELECT doc_id,
               (CAST(LEN(LIST_DISTINCT(w)) AS BIGINT) * 1000)
                   // CAST(LEN(w) AS BIGINT) AS ttr_milli,
               (CAST(LEN(LIST_FILTER(w, x -> x IN {_QL_STOPS!r})) AS BIGINT) * 1000)
                   // CAST(LEN(w) AS BIGINT) AS stop_milli,
               CAST(LEN(w) AS BIGINT) AS n_tokens
        FROM toks WHERE LEN(w) > 0
    ),
    scored AS (
        SELECT d.doc_id, d.lang, d.n_chars, lm.bits_per_token, lm.n_bigrams,
               3 * lin.ttr_milli - 2 * lin.stop_milli
                   + 10 * LEAST(lin.n_tokens, 100) AS score_milli
        FROM documents d
        JOIN lm ON lm.doc_id = d.doc_id
        JOIN lin ON lin.doc_id = d.doc_id
    ),
    pct AS (
        SELECT lang,
               ROUND(QUANTILE_CONT(bits_per_token, 0.666667), 6) AS lm_t66
        FROM scored GROUP BY lang
    ),
    kept AS (
        SELECT s.doc_id, s.lang, s.n_chars
        FROM scored s JOIN pct ON pct.lang = s.lang
        WHERE s.score_milli >= {_QL_THRESHOLD}
          AND s.bits_per_token <= pct.lm_t66
          AND s.n_bigrams >= 5
    ),
    h AS (SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c FROM kept GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
    cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
    b AS (SELECT {bounds}),
    assigned AS (
        SELECT k.doc_id, k.lang, k.n_chars, 1 + {gt_sum} AS shard_id
        FROM kept k CROSS JOIN b
    )
    SELECT shard_id, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY shard_id, lang
    """


@register("corpus_curation_v5", oracle=_v5_oracle())
def corpus_curation_v5(spark, sf_dir):
    """Curation v5 — the two-model gate feeding reproducible output shards:
    keep documents that pass BOTH the discriminative linear filter
    (integer score >= threshold) and the generative bigram-LM gate
    (bits-per-token within the per-language 2/3 tercile, >= 5 bigrams),
    then range-shard the survivors into 4 size-balanced shards with EXACT
    n_chars quantile boundaries and emit the per-(shard, lang) manifest.
    This is the standard close of a pretraining-data pipeline: quality
    stack → snapshot → deterministic shard manifest for the trainer.
    Plan: one LM scoring pass + one linear-feature projection (shared
    scan), a tiny per-lang percentile broadcast, histogram-cumsum
    boundaries (no global sort), map-side shard assignment, final
    aggregate — the per-doc score table is persisted once for its three
    consumers (percentiles, boundary histogram via kept, manifest)."""
    d = load_table(spark, sf_dir, "documents")
    scored = (
        d.select("doc_id", "lang", "n_chars")
        .join(_ref_lm_scores(d), "doc_id")
        .join(_linear_scores(d).select("doc_id", "score_milli"), "doc_id")
    )
    # tracked snapshot, not a persist pin (registry.release_snapshots frees it)
    scored = snapshot(scored)
    kept = (
        scored.join(F.broadcast(_lang_lm_terciles(scored)), "lang")
        .filter(
            (F.col("score_milli") >= _QL_THRESHOLD)
            & (F.col("bits_per_token") <= F.col("lm_t66"))
            & (F.col("n_bigrams") >= 5)
        )
        .select("doc_id", "lang", "n_chars")
    )
    kept = snapshot(kept)
    return (
        exact_range_shards(kept, "n_chars", _V5_SHARDS)
        .groupBy("shard_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------- #
# quality_dsir_importance — hashed-n-gram importance resampling (DSIR)         #
# --------------------------------------------------------------------------- #

# DSIR (Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling", public method): estimate importance weights with two bag-of-
# HASHED-n-gram unigram models — target (the trusted reference slice) vs raw
# (the whole corpus) — then Gumbel-top-k sample by log w(x) + g.  Hashing
# bigrams into a FIXED bucket count is the 100 TB move: both models are
# exactly _DSIR_B rows no matter how large the corpus vocabulary grows, so
# they always broadcast.
_DSIR_B = 256  # feature buckets (model size — broadcast side, corpus-invariant)
_DSIR_K = 100  # sample size

# log-ratio per bucket, identical expression text on both engines; totals
# (nt, nr) are BIGINT columns from the tiny model aggregates
_DSIR_LR = (
    f"LOG2((COALESCE(ct, 0) + 1.0) / (nt + {_DSIR_B}.0))"
    f" - LOG2((COALESCE(cr, 0) + 1.0) / (nr + {_DSIR_B}.0))"
)
# deterministic Gumbel noise from the portable doc hash: u in (0, 1], then
# g = -ln(-ln(u)); 1.15292150460684698e18 ≈ 2^60 + 1 (identical literal →
# identical double on both engines)
_DSIR_GUMBEL = "-LN(-LN((hv + 1.0) / 1.15292150460684698e18))"


@register(
    "quality_dsir_importance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    bgl AS (
        SELECT doc_id, lang,
               LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 1, 0) + 1),
                              i -> {{'pos': i, 'w1': w[i], 'w2': w[i+1]}}) AS pairs
        FROM toks
    ),
    bg AS (
        SELECT doc_id, lang, u.pos AS pos,
               CAST('0x' || SUBSTR(MD5('dsir:' || u.w1 || ' ' || u.w2), 1, 15)
                    AS BIGINT) % {_DSIR_B} AS b
        FROM (SELECT doc_id, lang, UNNEST(pairs) AS u FROM bgl)
    ),
    ctt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bg WHERE lang = '{_REF_LANG}' GROUP BY 1),
    crt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bg GROUP BY 1),
    tot AS (
        SELECT (SELECT CAST(SUM(ct) AS BIGINT) FROM ctt) AS nt,
               (SELECT CAST(SUM(cr) AS BIGINT) FROM crt) AS nr
    ),
    model AS (
        SELECT r.b, {_DSIR_LR} AS lr
        FROM (SELECT UNNEST(RANGE(0, {_DSIR_B})) AS b) r
        LEFT JOIN ctt USING (b)
        LEFT JOIN crt USING (b)
        CROSS JOIN tot
    ),
    lp AS (SELECT bg.doc_id, bg.pos, m.lr FROM bg JOIN model m USING (b)),
    agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               LIST_REDUCE(LIST(lr ORDER BY pos), (x, y) -> x + y) AS logw_sum
        FROM lp GROUP BY doc_id
    ),
    gk AS (
        SELECT doc_id, n_bigrams, ROUND(logw_sum, 6) AS logw,
               ROUND(logw_sum + ({_DSIR_GUMBEL}), 6) AS gumbel_key
        FROM (
            SELECT doc_id, n_bigrams, logw_sum,
                   CAST('0x' || SUBSTR(MD5('dsirg:' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS hv
            FROM agg
        )
    ),
    top AS (
        SELECT doc_id, n_bigrams, logw, gumbel_key
        FROM gk ORDER BY gumbel_key DESC, doc_id LIMIT {_DSIR_K}
    )
    SELECT t.doc_id, d.lang, t.n_bigrams, t.logw, t.gumbel_key,
           CAST(ROW_NUMBER() OVER (ORDER BY t.gumbel_key DESC, t.doc_id) AS BIGINT)
               AS sample_rank
    FROM top t JOIN documents d USING (doc_id)
    """,
)
def quality_dsir_importance(spark, sf_dir):
    """DSIR data selection: importance weights from two hashed-bigram unigram
    models (target = the English reference slice, raw = the full corpus),
    Gumbel-top-k sampled — sampling, not plain top-k, is what preserves
    diversity in the selected set, and the Gumbel draw is a pure function of
    doc_id (portable md5 hash → u → -ln(-ln u)), so the "random" sample is
    reproducible across runs, engines, and partitionings.

    Plan: one explode pass buckets every bigram into {_DSIR_B} hashed
    features (the model size is CORPUS-INVARIANT — that is DSIR's trick and
    what keeps both models broadcast-able at 100 TB); two tiny groupBys
    build the count models; the full-domain bucket table (spark.range) left-
    joins them so unseen buckets score through the same smoothing; scoring
    re-joins the bucketized stream against the broadcast 256-row model and
    folds per-doc log-ratios in position order; selection is
    TakeOrderedAndProject on the rounded Gumbel key.  Two corpus-scale
    shuffles total (bucket counts, per-doc fold) — no joins keyed by
    anything larger than the doc id."""
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # degenerate-scan guard (see sources.registry.spread_scan)
    ids = d.select("doc_id", "lang")
    bg_all = exploded_bigrams(d, "doc_id", "text").select(
        "doc_id",
        "pos",
        (hash60(F.concat_ws(" ", "w1", "w2"), seed="dsir:") % _DSIR_B).alias("b"),
    )
    # both count models from ONE explode pass: count_if on the lang carried
    # through a struct id (a separate reference-slice explode would re-run
    # tokenize+md5 over the en documents a third time — measured 1.1 s of
    # the query's 3.3 s at sf0.1)
    d2 = d.select(F.struct("doc_id", "lang").alias("k"), "text")
    bgk = exploded_bigrams(d2, "k", "text").select(
        F.col("k.lang").alias("lang"),
        (hash60(F.concat_ws(" ", "w1", "w2"), seed="dsir:") % _DSIR_B).alias("b"),
    )
    cnt = bgk.groupBy("b").agg(
        F.count_if(F.col("lang") == _REF_LANG).alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    tot = cnt.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    model = (
        spark.range(_DSIR_B)
        .select(F.col("id").alias("b"))
        .join(F.broadcast(cnt), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select("b", F.expr(_DSIR_LR).alias("lr"))
    )
    agg = (
        bg_all.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("pos", "lr"))),
                F.lit(0.0),
                lambda acc, x: acc + x.getField("lr"),
            ).alias("logw_sum"),
        )
    )
    gk = agg.withColumn(
        "hv", hash60(F.col("doc_id").cast("string"), seed="dsirg:")
    ).select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("logw_sum"), 6).alias("logw"),
        F.round(F.col("logw_sum") + F.expr(_DSIR_GUMBEL), 6).alias("gumbel_key"),
    )
    top = gk.orderBy(F.col("gumbel_key").desc(), "doc_id").limit(_DSIR_K)
    return top.join(F.broadcast(ids), "doc_id").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "logw",
        "gumbel_key",
        F.row_number()
        .over(Window.orderBy(F.col("gumbel_key").desc(), "doc_id"))
        .cast("long")
        .alias("sample_rank"),
    )


# --------------------------------------------------------------------------- #
# quality_quantile_normalize — map per-source score distributions onto the     #
# global distribution (rank-based quantile normalization)                      #
# --------------------------------------------------------------------------- #


@register(
    "quality_quantile_normalize",
    oracle="""
    WITH src AS (
        SELECT doc_id, source, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
                    AS BIGINT) AS r_src,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
        FROM documents
    ),
    gstat AS (
        SELECT n_chars AS gv,
               CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS idx0
        FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents),
    pos AS (
        SELECT doc_id, source, n_chars, r_src, n_src,
               CASE WHEN n_src > 1
                    THEN (CAST(r_src - 1 AS DOUBLE) / (n_src - 1)) * (n_tot - 1)
                    ELSE (CAST(n_tot - 1 AS DOUBLE)) / 2 END AS gpos
        FROM src CROSS JOIN n
    ),
    ix AS (
        SELECT *, CAST(FLOOR(gpos) AS BIGINT) AS i, gpos - FLOOR(gpos) AS frac
        FROM pos
    )
    SELECT ix.doc_id, ix.source, ix.n_chars,
           ROUND(ix.gpos, 6) AS gpos,
           lo.gv + ix.frac * (COALESCE(hi.gv, lo.gv) - lo.gv) AS norm_score
    FROM ix
    JOIN gstat lo ON lo.idx0 = ix.i
    LEFT JOIN gstat hi ON hi.idx0 = ix.i + 1
    """,
)
def quality_quantile_normalize(spark, sf_dir):
    """Rank-based QUANTILE NORMALIZATION of a per-source quality signal: each
    document's score is replaced by the GLOBAL distribution's value at the
    document's within-source percentile — after it, every source has the
    same score distribution, so a downstream threshold can't favor sources
    whose crawler happened to produce longer pages (the cross-batch
    calibration step quality-filtered corpora need; same construction as
    microarray quantile normalization, a public method).

    Mechanics: within-source percent position (rank-1)/(n-1) maps to a
    fractional index into the global order statistics, linearly
    interpolated between the two neighboring values — all IEEE +,-,×,÷
    after integer ranks, so results hash bit-exactly (only the fractional
    position itself is rounded for display).  Single-doc sources park at
    the median position rather than dividing by zero.

    Rank decomposition (round 9): the naive forms — a full per-source rank
    window and a SINGLE-PARTITION global rank window (both what the oracle
    runs) — sort whole strata / the whole corpus in one task.  The engine
    instead decomposes every rank over (key, value, doc_id) as

        rank = (rows of the key with a smaller value) + (tie rank by doc_id)

    where the first term is a cumulative count over the key's DISTINCT
    VALUES (value-cardinality-sized window — the sweep-line/weighted-median
    machinery) joined back by (key, value), and the tie window partitions
    by (key, value) — hot only if one exact value dominates one key.  The
    hash match against the naive-window oracle proves the decomposition
    exact at every scale."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    # per-source ranks: value histogram -> per-source cumulative (distinct
    # values only) -> join back + tie rank by doc_id within (source, value)
    hist_s = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    cum_s = hist_s.select(
        "source",
        "n_chars",
        F.coalesce(
            F.sum("c").over(
                W.partitionBy("source").orderBy("n_chars").rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).cast("long").alias("cum_before"),
        F.sum("c").over(W.partitionBy("source")).cast("long").alias("n_src"),
    )
    tie_s = F.row_number().over(W.partitionBy("source", "n_chars").orderBy("doc_id"))
    src = (
        d.withColumn("tr", tie_s.cast("long"))
        .join(cum_s, ["source", "n_chars"])
        .select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("cum_before") + F.col("tr")).alias("r_src"),
            "n_src",
        )
    )
    # global order statistics: same decomposition with no key
    hist_g = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    cum_g = hist_g.select(
        "n_chars",
        F.coalesce(
            F.sum("c").over(W.orderBy("n_chars").rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("gcum_before"),
    )
    tie_g = F.row_number().over(W.partitionBy("n_chars").orderBy("doc_id"))
    glob = (
        d.withColumn("gtr", tie_g.cast("long"))
        .join(cum_g, "n_chars")
        .select(
            F.col("n_chars").alias("gv"),
            (F.col("gcum_before") + F.col("gtr") - 1).alias("idx0"),
        )
    )
    n = d.agg(F.count(F.lit(1)).alias("n_tot"))
    pos = src.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "n_chars",
        F.when(
            F.col("n_src") > 1,
            (
                (F.col("r_src") - 1).cast("double") / (F.col("n_src") - 1)
            )
            * (F.col("n_tot") - 1),
        )
        .otherwise((F.col("n_tot") - 1).cast("double") / 2)
        .alias("gpos"),
    )
    ix = pos.select(
        "doc_id",
        "source",
        "n_chars",
        "gpos",
        F.floor("gpos").cast("long").alias("i"),
        (F.col("gpos") - F.floor("gpos")).alias("frac"),
    )
    lo = glob.select(F.col("idx0").alias("i"), F.col("gv").alias("lo_gv"))
    hi = glob.select((F.col("idx0") - 1).alias("i"), F.col("gv").alias("hi_gv"))
    return (
        ix.join(lo, "i")
        .join(hi, "i", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("gpos", 6).alias("gpos"),
            (
                F.col("lo_gv")
                + F.col("frac") * (F.coalesce("hi_gv", "lo_gv") - F.col("lo_gv"))
            ).alias("norm_score"),
        )
    )
