"""Text-analysis queries over ``documents``: quality scoring, language ID,
token counting, corpus rollups (north-star extension surface).

All built-in expressions (codegen'd) — the hot path of a 100 TB text pipeline
must not cross into Python per row.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.scrub import (
    PII_PATTERNS,
    denylist_pattern,
    scrub_counts,
    scrub_text,
)
from airflow_cms_inpatient_etl_spark.operators.text import hash60
from airflow_cms_inpatient_etl_spark.queries.base import fill_doc, register
from airflow_cms_inpatient_etl_spark.sources.registry import load_table, spread_scan

_STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# tiny per-language lexicons for the heuristic language-ID
_LEXICONS = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "los", "y"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "les", "et", "une"],
}

_BPE_ISH = "[a-z]+|[0-9]|[^a-z0-9\\s]"


def _words(col):
    return F.split(F.trim(F.lower(col)), r"\s+")


@register(
    "text_quality_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars, text,
               STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    )
    SELECT doc_id,
           LENGTH(text) AS n_chars_measured,
           LEN(w) AS n_tokens,
           LEN(LIST_DISTINCT(w)) AS n_distinct_tokens,
           LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g')) / LEN(w) AS avg_token_len,
           LEN(REGEXP_EXTRACT_ALL(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
           LEN(LIST_INTERSECT(LIST_DISTINCT(w), {_STOPWORDS!r})) AS n_stopwords,
           LEN(LIST_INTERSECT(LIST_DISTINCT(w), {_STOPWORDS!r})) / LEN(LIST_DISTINCT(w)) AS stopword_coverage,
           LEN(LIST_DISTINCT(w)) / LEN(w) AS lexical_diversity,
           CASE WHEN LEN(w) BETWEEN 20 AND 500 THEN 0.5 ELSE 0.0 END
               + LEN(LIST_INTERSECT(LIST_DISTINCT(w), {_STOPWORDS!r})) / LEN(LIST_DISTINCT(w)) AS quality_score
    FROM toks
    """,
)
def text_quality_scores(spark, sf_dir):
    """Per-document quality features: length, token counts, punctuation count,
    stopword coverage, lexical diversity, and a combined score."""
    d = load_table(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    distinct_w = F.array_distinct(w)
    stop_lits = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.array_intersect(distinct_w, stop_lits))
    n_tokens = F.size(w)
    n_distinct = F.size(distinct_w)
    length_bonus = F.when(n_tokens.between(20, 500), 0.5).otherwise(0.0)
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_measured"),
        n_tokens.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct_tokens"),
        (F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_tokens).alias("avg_token_len"),
        F.regexp_count(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]")).cast("bigint").alias("n_punct"),
        n_stop.cast("bigint").alias("n_stopwords"),
        (n_stop / n_distinct).alias("stopword_coverage"),
        (n_distinct / n_tokens).alias("lexical_diversity"),
        (length_bonus + n_stop / n_distinct).alias("quality_score"),
    )


def _lex_sql(lang: str) -> str:
    return f"LEN(LIST_INTERSECT(LIST_DISTINCT(w), {_LEXICONS[lang]!r}))"


@register(
    "text_langid_heuristic",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               {_lex_sql("en")} AS en_hits,
               {_lex_sql("es")} AS es_hits,
               {_lex_sql("de")} AS de_hits,
               {_lex_sql("fr")} AS fr_hits
        FROM toks
    )
    SELECT doc_id, lang AS labeled_lang, en_hits, es_hits, de_hits, fr_hits,
           CASE WHEN en_hits + es_hits + de_hits + fr_hits = 0 THEN 'und'
                WHEN en_hits >= GREATEST(es_hits, de_hits, fr_hits) THEN 'en'
                WHEN es_hits >= GREATEST(de_hits, fr_hits) THEN 'es'
                WHEN de_hits >= fr_hits THEN 'de'
                ELSE 'fr' END AS predicted_lang
    FROM scored
    """,
)
def text_langid_heuristic(spark, sf_dir):
    """Lexicon-overlap language ID (n-gram-free heuristic): count distinct
    stopword hits per language, argmax with a fixed priority order for ties.
    Deterministic by construction; the labeled lang rides along for evaluation."""
    d = load_table(spark, sf_dir, "documents")
    w = F.array_distinct(_words(F.col("text")))
    hits = {
        lang: F.size(F.array_intersect(w, F.array(*[F.lit(t) for t in lex])))
        for lang, lex in _LEXICONS.items()
    }
    total = hits["en"] + hits["es"] + hits["de"] + hits["fr"]
    predicted = (
        F.when(total == 0, "und")
        .when(hits["en"] >= F.greatest(hits["es"], hits["de"], hits["fr"]), "en")
        .when(hits["es"] >= F.greatest(hits["de"], hits["fr"]), "es")
        .when(hits["de"] >= hits["fr"], "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits["en"].cast("bigint").alias("en_hits"),
        hits["es"].cast("bigint").alias("es_hits"),
        hits["de"].cast("bigint").alias("de_hits"),
        hits["fr"].cast("bigint").alias("fr_hits"),
        predicted.alias("predicted_lang"),
    )


@register(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS ws_tokens,
           LEN(REGEXP_EXTRACT_ALL(LOWER(text), '{_BPE_ISH}')) AS bpe_ish_tokens,
           LENGTH(text) AS n_chars_measured,
           LENGTH(text) = n_chars AS n_chars_ok
    FROM documents
    """,
)
def text_token_counts(spark, sf_dir):
    """Token counting two ways: whitespace split and a BPE-ish regex segmenter
    (letter runs / single digits / punctuation)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("ws_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(_BPE_ISH)).cast("bigint").alias("bpe_ish_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        (F.length("text") == F.col("n_chars")).alias("n_chars_ok"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, w AS token, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS w
              FROM documents)
        GROUP BY doc_id, w
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, df.df,
               tf.tf * (n.n_docs / df.df) AS tfidf,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * (n.n_docs / df.df) DESC, tf.token) AS rn
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, tfidf, rn FROM scored WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document with a *rational* idf (N/df, no log):
    log is not bit-reproducible across libm implementations, while integer
    division is — same ranking monotonicity, deterministic everywhere.
    Shape: token explode → (doc,token) tf agg → token df agg → score +
    per-doc top-k.  The tf ⋈ df join carries NO broadcast hint: an uncleaned
    web-scale corpus has a vocabulary (typos, URLs, hex blobs) far beyond
    broadcast size, and a forced hint would OOM the executors instead of
    letting AQE pick broadcast when the vocab side happens to be small (AQE
    upgrades the shuffle join to broadcast at runtime from actual sizes, and
    degrades gracefully to sort-merge on token when it is not)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    toks = d.select("doc_id", F.explode(_words(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * (F.col("n_docs") / F.col("df")))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rn")
    )


@register(
    "text_rolling_hash",
    oracle="""
    SELECT doc_id,
           LIST_REDUCE(
               LIST_TRANSFORM(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                              t -> CAST('0x' || SUBSTR(MD5(t), 1, 15) AS BIGINT) % 2147483647),
               (a, h) -> (a * 31 + h) % 2147483647
           ) AS rolling_hash
    FROM documents
    """,
)
def text_rolling_hash(spark, sf_dir):
    """Order-sensitive document fingerprint: polynomial rolling hash over the
    token sequence (acc·31 + h(token) mod 2³¹−1).  Unlike the bag-of-words md5
    fingerprint, token reordering changes this hash.  Arithmetic stays under
    2³⁶ so the fold is overflow-free and engine-portable; the left fold with
    zero seed equals DuckDB's seedless list_reduce because 0·31+h₁ = h₁."""
    d = load_table(spark, sf_dir, "documents")
    tokens = _words(F.col("text"))
    hashed = F.transform(
        tokens,
        lambda t: hash60(t) % 2147483647,
    )
    rolling = F.aggregate(
        hashed, F.lit(0).cast("long"), lambda acc, h: (acc * 31 + h) % 2147483647
    )
    return d.select("doc_id", rolling.alias("rolling_hash"))


@register(
    "text_repetition_metrics",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+') AS w FROM documents
    ),
    tok AS (SELECT doc_id, UNNEST(w) AS t FROM toks),
    tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
    ta AS (SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_tokens
           FROM tc GROUP BY doc_id),
    bigr AS (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)), i -> w[i] || ' ' || w[i + 1])) AS b
        FROM toks
    ),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bigr GROUP BY doc_id, b),
    ba AS (SELECT doc_id, MAX(c) AS top_b, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ
           FROM bc GROUP BY doc_id)
    SELECT ta.doc_id, n_tokens,
           top_c / n_tokens AS top_token_frac,
           top_b / n_bigrams AS top_bigram_frac,
           dup_occ / n_bigrams AS dup_bigram_frac,
           top_c / n_tokens <= 0.10 AND dup_occ / n_bigrams <= 0.05 AS keep
    FROM ta JOIN ba USING (doc_id)
    """,
)
def text_repetition_metrics(spark, sf_dir):
    """Gopher-style repetition signals per document: most-frequent-token
    fraction, most-frequent-bigram fraction, and the fraction of bigram
    occurrences belonging to a repeated bigram — the standard boilerplate /
    template-spam detectors for pre-training curation (Rae et al. 2021,
    table A1, public paper).  Shape: one map-side pass builds the token and
    bigram streams (zip_with over two slices — no self-join), then two
    (doc_id, term) count aggregations with map-side partial aggregation and a
    final doc-keyed join of the two per-doc profiles; both shuffles key on
    doc_id+term so no single task ever sees more than one document's terms —
    safe under any document-length or corpus-size scale-up.  Fractions are
    int/int IEEE divisions (bit-identical across engines; no libm)."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the token array once — Catalyst does not CSE inside
    # higher-order-function lambdas (10× measured; see text_rolling_hash)
    toks = d.select("doc_id", _words(F.col("text")).alias("w"))
    n = F.size("w")
    bigrams = F.zip_with(
        F.slice("w", F.lit(1), n - 1),
        F.slice("w", F.lit(2), n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tc = (
        toks.select("doc_id", F.explode("w").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ta = tc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").cast("bigint").alias("n_tokens")
    )
    bc = (
        toks.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ba = bc.groupBy("doc_id").agg(
        F.max("c").alias("top_b"),
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("bigint").alias("dup_occ"),
    )
    ttf = F.col("top_c") / F.col("n_tokens")
    dbf = F.col("dup_occ") / F.col("n_bigrams")
    return ta.join(ba, "doc_id").select(
        "doc_id",
        "n_tokens",
        ttf.alias("top_token_frac"),
        (F.col("top_b") / F.col("n_bigrams")).alias("top_bigram_frac"),
        dbf.alias("dup_bigram_frac"),
        ((ttf <= 0.10) & (dbf <= 0.05)).alias("keep"),
    )


_DENYLIST = ["customer", "value"]
_SCRUB_CHAIN = PII_PATTERNS + [("denylist", denylist_pattern(_DENYLIST), "[TERM]")]


def _scrub_sql(col: str) -> str:
    out = col
    for _, pat, rep in _SCRUB_CHAIN:
        out = f"REGEXP_REPLACE({out}, '{pat}', '{rep}', 'g')"
    return out


def _count_sql(pat: str) -> str:
    return f"LEN(REGEXP_EXTRACT_ALL(text, '{pat}'))"


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           {_scrub_sql("text")} AS clean_text,
           CAST({" + ".join(_count_sql(p) for _, p, _ in PII_PATTERNS)} AS BIGINT) AS n_pii,
           CAST({_count_sql(_SCRUB_CHAIN[-1][1])} AS BIGINT) AS n_denylist,
           CAST({" + ".join(_count_sql(p) for _, p, _ in _SCRUB_CHAIN)} AS BIGINT) AS n_redactions,
           {" + ".join(_count_sql(p) for _, p, _ in _SCRUB_CHAIN)} > 0 AS was_redacted
    FROM documents
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII + denylist redaction over the corpus (``operators/scrub.py``):
    emails / SSNs / phones / IPv4s → typed placeholders, plus a configurable
    whole-word denylist — the redaction stage every public pre-training
    pipeline runs before tokenization.  Pure ``regexp_replace`` chain:
    map-only, zero shuffle, whole-stage-codegen JVM regex at 100 TB.  The
    synthetic fixture's word-salad contains no PII-shaped strings (the PII
    counts exercise the full pattern set and provably return 0 — asserted
    against the oracle), so the denylist terms are chosen from the fixture
    vocabulary to make the replacement path itself observable; crafted-PII
    behavior is unit-tested in tests/test_textops_extra.py."""
    d = load_table(spark, sf_dir, "documents")
    counts = scrub_counts(F.col("text"), _SCRUB_CHAIN)
    n_pii = sum(counts[name] for name, _, _ in PII_PATTERNS)
    n_all = n_pii + counts["denylist"]
    return d.select(
        "doc_id",
        scrub_text(F.col("text"), _SCRUB_CHAIN).alias("clean_text"),
        n_pii.cast("bigint").alias("n_pii"),
        counts["denylist"].cast("bigint").alias("n_denylist"),
        n_all.cast("bigint").alias("n_redactions"),
        (n_all > 0).alias("was_redacted"),
    )


@register(
    "text_corpus_rollup",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
)
def text_corpus_rollup(spark, sf_dir):
    """Corpus statistics rollup by (lang, source) — integer sums, exact."""
    d = load_table(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --------------------------------------------------------------------------- #
# text_bm25_search — inverted-index keyword search with BM25 ranking           #
# --------------------------------------------------------------------------- #

# Fixed search query (a user's keyword search over the corpus). k1/b are the
# standard Okapi defaults; 2.2 = k1 + 1 and 0.25 = 1 - b written as literals
# so BOTH engines parse the identical decimal → identical doubles.
_BM25_TERMS = ("hash", "join", "scan", "stream", "window")
_BM25_K = 50

# Per-(doc, term) contribution — ONE shared expression string evaluated by
# both engines (the LM-family contract): idf is the Lucene BM25 "+1" form
# (never negative), tf saturation with document-length normalization.  LN is
# the only transcendental; everything else is exactly-rounded IEEE, and the
# per-doc sum folds in term order, so ROUND(...,6) absorbs the ulps.
_BM25_CONTRIB = (
    "LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
    " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))"
)


@register(
    "text_bm25_search",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    dls AS (SELECT doc_id, lang, CAST(LEN(w) AS BIGINT) AS dl, w FROM toks),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dls
    ),
    tf AS (
        SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST(w) AS t FROM dls)
        WHERE t IN {str(tuple(_BM25_TERMS))}
        GROUP BY 1, 2
    ),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    contrib AS (
        SELECT tf.doc_id, tf.term,
               {_BM25_CONTRIB} AS c
        FROM tf
        JOIN dfs USING (term)
        JOIN dls USING (doc_id)
        CROSS JOIN stats
    ),
    sc AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms_hit,
               ROUND(LIST_REDUCE(LIST(c ORDER BY term), (x, y) -> x + y), 6) AS score
        FROM contrib GROUP BY doc_id
    ),
    top AS (
        SELECT doc_id, n_terms_hit, score
        FROM sc ORDER BY score DESC, doc_id LIMIT {_BM25_K}
    )
    SELECT t.doc_id, d.lang, d.dl, t.n_terms_hit, t.score,
           CAST(ROW_NUMBER() OVER (ORDER BY t.score DESC, t.doc_id) AS BIGINT)
               AS search_rank
    FROM top t JOIN dls d USING (doc_id)
    """,
)
def text_bm25_search(spark, sf_dir):
    """Keyword search over the corpus: Okapi BM25 ranking for a fixed query
    term set, top-K documents.  This is the retrieval shape every
    corpus-inspection tool needs next to the ANN family — lexical instead of
    embedding-based.

    Plan (the inverted-index shape): one scan tokenizes; the token explode is
    FILTERED to the query terms before the tf shuffle, so the exploded volume
    entering the exchange is ~|terms|·|matching docs|, not the full token
    stream; df and the (n_docs, avgdl) corpus stats are tiny aggregates that
    ride broadcast joins; document length (dl) is carried through the explode
    (functionally dependent on doc_id — no join back against the corpus); the
    per-doc score folds its ≤|terms| contributions in term order; the global
    top-k is TakeOrderedAndProject on the rounded score.  At 100 TB nothing
    here is corpus-quadratic: the only shuffle keyed by doc is the tf
    aggregation over query-term hits."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", _words(F.col("text")).alias("w")
    ).select("doc_id", "lang", F.size("w").cast("long").alias("dl"), "w")
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(SUM(dl) AS DOUBLE) / COUNT(*)").alias("avgdl"),
    )
    hits = toks.select(
        "doc_id", "lang", "dl", F.explode("w").alias("t")
    ).filter(F.col("t").isin(*_BM25_TERMS))
    tf = hits.groupBy("doc_id", "lang", "dl", F.col("t").alias("term")).agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "lang", "dl", "term", F.expr(_BM25_CONTRIB).alias("c"))
    )
    sc = contrib.groupBy("doc_id", "lang", "dl").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x.getField("c"),
            ),
            6,
        ).alias("score"),
    )
    top = sc.orderBy(F.col("score").desc(), "doc_id").limit(_BM25_K)
    return top.select(
        "doc_id",
        "lang",
        "dl",
        "n_terms_hit",
        "score",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .cast("long")
        .alias("search_rank"),
    )


# --------------------------------------------------------------------------- #
# search_hybrid_rrf — BM25 + embedding-cosine reciprocal-rank fusion           #
# --------------------------------------------------------------------------- #

_RRF_K = 60      # the standard RRF damping constant (Cormack et al. SIGIR'09)
_RRF_LEG_N = 50  # per-leg candidate depth
_RRF_TOP = 20    # fused output size


def _rrf_cosine_sql(a: str, b: str) -> str:
    """Ordered-fold cosine — the same contract as queries.similarity._cosine
    (imported lazily there to avoid a module-load order coupling): products
    in index order over the 64-d embedding, double accumulator, left fold."""
    def _dot(x: str, y: str) -> str:
        return (
            f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, 65), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)), (x, y) -> x + y)"
        )

    return f"{_dot(a, b)} / (SQRT({_dot(a, a)}) * SQRT({_dot(b, b)}))"


@register(
    "search_hybrid_rrf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    dls AS (SELECT doc_id, CAST(LEN(w) AS BIGINT) AS dl, w FROM toks),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dls
    ),
    tf AS (
        SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, UNNEST(w) AS t FROM dls)
        WHERE t IN {str(tuple(_BM25_TERMS))}
        GROUP BY 1, 2
    ),
    dfs AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    contrib AS (
        SELECT tf.doc_id, tf.term, {_BM25_CONTRIB} AS c
        FROM tf JOIN dfs USING (term) JOIN dls USING (doc_id) CROSS JOIN stats
    ),
    sc AS (
        SELECT doc_id,
               ROUND(LIST_REDUCE(LIST(c ORDER BY term), (x, y) -> x + y), 6) AS score
        FROM contrib GROUP BY doc_id
    ),
    lex AS (
        SELECT doc_id, lex_score,
               CAST(ROW_NUMBER() OVER (ORDER BY lex_score DESC, doc_id) AS BIGINT)
                   AS lex_rank
        FROM (SELECT doc_id, score AS lex_score
              FROM sc ORDER BY score DESC, doc_id LIMIT {_RRF_LEG_N})
    ),
    q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT vec_id AS doc_id, {_rrf_cosine_sql("embedding", "qvec")} AS sem_cosine
        FROM embeddings, q WHERE vec_id <> 0
    ),
    sem AS (
        SELECT doc_id, sem_cosine,
               CAST(ROW_NUMBER() OVER (ORDER BY sem_cosine DESC, doc_id) AS BIGINT)
                   AS sem_rank
        FROM (SELECT doc_id, sem_cosine
              FROM scored ORDER BY sem_cosine DESC, doc_id LIMIT {_RRF_LEG_N})
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank, l.lex_score, s.sem_cosine,
               COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.lex_rank), CAST(0 AS DOUBLE))
                 + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + s.sem_rank), CAST(0 AS DOUBLE))
                   AS rrf_score
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, lex_score, sem_cosine, rrf_score,
           lex_rank IS NOT NULL AND sem_rank IS NOT NULL AS in_both
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOP}
    """,
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval — reciprocal-rank fusion (Cormack et al. SIGIR'09:
    the standard score-free fusion every RAG stack runs) of a LEXICAL leg
    (the engine's Okapi BM25 inverted-index ranking, fixed query-term set)
    and a SEMANTIC leg (exact broadcast-query cosine over the embedding
    column; the query vector is doc 0's embedding, self-match excluded).
    Each leg contributes 1/({_RRF_K} + rank) for its top-{_RRF_LEG_N};
    output is the fused top-{_RRF_TOP} with both per-leg ranks/scores and
    an ``in_both`` agreement flag.  Ranks are fully tiebroken (score desc,
    doc_id), the BM25 score is the ordered-fold ROUND(...,6) contract and
    the cosine the ordered-fold exact contract, so the float RRF sums are
    bit-identical across engines.

    Scale: each leg is an already-proven retrieval shape — the BM25 leg's
    only corpus shuffle is the query-term-filtered tf aggregation; the
    semantic leg is a map-side broadcast-query cosine with a
    TakeOrderedAndProject top-k (the LSH/IVF family replaces it above
    broadcast scale).  Fusion itself joins two {_RRF_LEG_N}-row lists —
    constant size at any corpus scale."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import dot, norm

    lex = text_bm25_search(spark, sf_dir).select(
        "doc_id",
        F.col("score").alias("lex_score"),
        F.col("search_rank").alias("lex_rank"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"), norm(F.col("embedding")).alias("qn")
    )
    scored = (
        e.filter(F.col("vec_id") != 0)
        .withColumn("cn", norm(F.col("embedding")))
        .join(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            (dot(F.col("embedding"), F.col("qvec")) / (F.col("cn") * F.col("qn"))).alias(
                "sem_cosine"
            ),
        )
    )
    sem = (
        scored.orderBy(F.col("sem_cosine").desc(), "doc_id")
        .limit(_RRF_LEG_N)
        .select(
            "doc_id",
            "sem_cosine",
            F.row_number()
            .over(Window.orderBy(F.col("sem_cosine").desc(), "doc_id"))
            .cast("long")
            .alias("sem_rank"),
        )
    )
    leg = F.lit(1.0)  # double literal (SQL '1.0' would be decimal — cross-engine trap)
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            "lex_score",
            "sem_cosine",
            (
                F.coalesce(leg / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(leg / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0))
            ).alias("rrf_score"),
            (F.col("lex_rank").isNotNull() & F.col("sem_rank").isNotNull()).alias(
                "in_both"
            ),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(_RRF_TOP)


# --------------------------------------------------------------------------- #
# text_mixed_language_flag — per-chunk language consistency                    #
# --------------------------------------------------------------------------- #

_MIX_CHUNK = 40  # tokens per classification window (non-overlapping)
# planted code-switch block: 40 Spanish stopword tokens appended to every
# 10th document (the fixture's corpus is monolingual per chunk, so the gate
# would otherwise never fire — same engineered-signal pattern as the
# caption-alignment and embedding-decontamination gates)
_MIX_BLOCK = " ".join(["el la de los y"] * 8)


def _chunk_lex_sql(lang: str) -> str:
    return f"LEN(LIST_INTERSECT(LIST_DISTINCT(chunk), {_LEXICONS[lang]!r}))"


@register(
    "text_mixed_language_flag",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, doc_id % 10 = 0 AS planted,
               STRING_SPLIT_REGEX(TRIM(LOWER(
                   CASE WHEN doc_id % 10 = 0 THEN text || ' {_MIX_BLOCK}'
                        ELSE text END)), '\\s+') AS w
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, planted,
               LIST_SLICE(w, start_tok + 1, start_tok + {_MIX_CHUNK}) AS chunk
        FROM (SELECT doc_id, planted, w, UNNEST(RANGE(0, LEN(w), {_MIX_CHUNK})) AS start_tok
              FROM toks)
    ),
    scored AS (
        SELECT doc_id, planted,
               {_chunk_lex_sql("en")} AS en_hits,
               {_chunk_lex_sql("es")} AS es_hits,
               {_chunk_lex_sql("de")} AS de_hits,
               {_chunk_lex_sql("fr")} AS fr_hits
        FROM chunks
    ),
    labeled AS (
        SELECT doc_id, planted,
               CASE WHEN en_hits + es_hits + de_hits + fr_hits = 0 THEN 'und'
                    WHEN en_hits >= GREATEST(es_hits, de_hits, fr_hits) THEN 'en'
                    WHEN es_hits >= GREATEST(de_hits, fr_hits) THEN 'es'
                    WHEN de_hits >= fr_hits THEN 'de'
                    ELSE 'fr' END AS chunk_lang
        FROM scored
    ),
    per_lang AS (
        SELECT doc_id, planted, chunk_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM labeled GROUP BY doc_id, planted, chunk_lang
    ),
    dom AS (
        SELECT doc_id, chunk_lang AS dominant_chunk_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY n DESC, chunk_lang DESC) AS rn
        FROM per_lang
    ),
    agg AS (
        SELECT doc_id, planted,
               CAST(SUM(n) AS BIGINT) AS n_chunks,
               CAST(COUNT(*) FILTER (WHERE chunk_lang != 'und') AS BIGINT) AS n_langs
        FROM per_lang GROUP BY doc_id, planted
    )
    SELECT agg.doc_id, agg.planted, agg.n_chunks, agg.n_langs,
           dom.dominant_chunk_lang, agg.n_langs >= 2 AS is_mixed
    FROM agg JOIN dom ON agg.doc_id = dom.doc_id AND dom.rn = 1
    """,
)
def text_mixed_language_flag(spark, sf_dir):
    """Mixed-language / code-switching detection: classify each
    non-overlapping {_MIX_CHUNK}-token window with the same lexicon-argmax
    heuristic as ``text_langid_heuristic``, then flag documents whose
    chunks disagree — the curation signal that catches boilerplate-wrapped
    translations and template pages that a whole-document language ID
    averages away.  Emits per doc: chunk count, number of distinct
    identified (non-'und') chunk languages, the dominant chunk language
    (count argmax, lexicographically-last tiebreak — deterministic), and
    the mixed flag (≥ 2 identified languages).

    The GATE itself is the pure operator
    ``operators.text.mixed_language_chunk_flags`` (tokenize → chunk →
    classify → flag; no synthetic mutation anywhere inside it — safe to
    point at real data).  This registered query is the FIXTURE-BOUND bench
    harness around it: the fixture corpus is per-chunk monolingual, so the
    wrapper PLANTS code-switching (every 10th document gains a 40-token
    Spanish stopword block; chunk alignment guarantees at least one
    pure-Spanish trailing chunk) and carries a ``planted`` column so the
    separation is auditable per-row in engine and oracle alike.

    Plan (see the operator docstring): one map-side projection for
    tokenize/chunk/classify, two small-key aggregations with map-side
    partial combine, argmax folded as max(struct) — no corpus-sized window,
    token payload never in an exchange."""
    from airflow_cms_inpatient_etl_spark.operators.text import (
        mixed_language_chunk_flags,
    )

    d = load_table(spark, sf_dir, "documents")
    # fixture-only signal planting — NOT part of the gate (kept out of the
    # operator so promoting the gate to real data cannot mutate the corpus)
    planted = F.col("doc_id") % 10 == 0
    seeded = d.select(
        "doc_id",
        planted.alias("planted"),
        F.when(planted, F.concat(F.col("text"), F.lit(" " + _MIX_BLOCK)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return mixed_language_chunk_flags(
        seeded,
        _LEXICONS,
        chunk_tokens=_MIX_CHUNK,
        carry_cols=("planted",),
    )


fill_doc(text_mixed_language_flag, _MIX_CHUNK=_MIX_CHUNK)


# --------------------------------------------------------------------------- #
# text_textrank_keywords — PageRank over the word co-occurrence graph          #
# --------------------------------------------------------------------------- #

_TR_ITERS = 4
_TR_SCALE = 10**12
_TR_TOPK = 20
_TR_MINLEN = 4


def _textrank_oracle() -> str:
    scale, d = _TR_SCALE, 85
    nref = "(SELECT n_nodes FROM n)"
    parts = [
        f"""
    WITH toks AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                           t -> LEN(t) >= {_TR_MINLEN}) AS lw
        FROM documents
    ),
    pairs AS (
        SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(lw) - 1, 0) + 1),
                      i -> lw[i])) AS a,
               UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(lw) - 1, 0) + 1),
                      i -> lw[i + 1])) AS b
        FROM toks
    ),
    edges AS (
        SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
            SELECT a AS src, b AS dst, 1 AS w FROM pairs WHERE a <> b
            UNION ALL
            SELECT b AS src, a AS dst, 1 AS w FROM pairs WHERE a <> b
        ) GROUP BY src, dst
    ),
    outd AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
    r0 AS (SELECT node, {scale} // {nref} AS rank FROM nodes)"""
    ]
    for i in range(1, _TR_ITERS + 1):
        parts.append(
            f""",
    r{i} AS (
        SELECT nodes.node,
               (15 * ({scale} // {nref})) // 100
                   + ({d} * COALESCE(CAST(SUM((r.rank * e.w) // o.wsum) AS BIGINT), 0)) // 100
                   AS rank
        FROM nodes
        LEFT JOIN edges e ON e.dst = nodes.node
        LEFT JOIN r{i - 1} r ON r.node = e.src
        LEFT JOIN outd o ON o.src = e.src
        GROUP BY nodes.node
    )"""
        )
    parts.append(
        f"""
    SELECT node AS word, rank,
           CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rn
    FROM r{_TR_ITERS}
    ORDER BY rn LIMIT {_TR_TOPK}"""
    )
    return "".join(parts)


@register("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): corpus-level
    PageRank over the word co-occurrence graph — content words (len >= 4),
    adjacent-pair edges symmetrized with multiplicity weights, 4 integer
    PageRank rounds (reusing operators.graph.pagerank_integer verbatim — the
    composition story: the graph engine ranks words exactly like it ranks
    event nodes), top-20 by (rank DESC, word).  Node keys stay the word
    strings at fixture scale; a 100 TB corpus hash60-keys the vocabulary and
    joins the surface form back for the final 20 rows.  The unrolled oracle
    replays all 4 rounds of the integer recurrence."""
    from airflow_cms_inpatient_etl_spark.operators.graph import pagerank_integer

    d = load_table(spark, sf_dir, "documents")
    lw = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda t: F.length(t) >= _TR_MINLEN,
    )
    toks = spread_scan(d.select("doc_id", lw.alias("lw")), "doc_id")
    n = F.size("lw")
    zipped = F.when(
        n >= 2,
        F.zip_with(
            F.slice("lw", 1, n - 1),
            F.slice("lw", 2, n - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pairs = toks.select(F.explode(zipped).alias("p")).select("p.a", "p.b")
    fwd = pairs.filter(F.col("a") != F.col("b"))
    edges = (
        fwd.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(fwd.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    ranks = pagerank_integer(edges, nodes, n_iter=_TR_ITERS, scale=_TR_SCALE)
    # Top-k via orderBy().limit() — plans TakeOrderedAndProject (per-partition
    # heaps + a k-row driver merge), NOT a single-partition sort of the whole
    # vocabulary; rn is derived AFTER the limit, so the only window runs over
    # exactly _TR_TOPK rows.  (rank DESC, word) is a total order (words are
    # unique nodes), so limit-then-number equals the old number-then-filter.
    top = (
        ranks.select(F.col("node").alias("word"), "rank")
        .orderBy(F.col("rank").desc(), F.col("word"))
        .limit(_TR_TOPK)
    )
    return top.select(
        "word",
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("rank").desc(), F.col("word")))
        .cast("long")
        .alias("rn"),
    ).orderBy("rn")


# --------------------------------------------------------------------------- #
# text_concordance_kwic — keyword-in-context extraction (round 11)             #
# --------------------------------------------------------------------------- #

_KWIC_CTX = 3
_KWIC_MINLEN = 4


@register(
    "text_concordance_kwic",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w FROM documents
    ),
    vocab AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT UNNEST(w) AS word FROM toks
        ) WHERE LEN(word) >= {_KWIC_MINLEN}
        GROUP BY word
    ),
    term AS (
        SELECT word FROM vocab ORDER BY n DESC, word LIMIT 1
    ),
    hits AS (
        SELECT t.doc_id, t.w,
               CAST(UNNEST(RANGE(1, LEN(t.w) + 1)) AS BIGINT) AS pos,
               UNNEST(t.w) AS tok
        FROM toks t
    )
    SELECT h.doc_id, h.pos, m.word AS term,
           -- ARRAY_TO_STRING([]) is NULL in DuckDB; Spark concat_ws gives ''
           COALESCE(ARRAY_TO_STRING(LIST_SLICE(h.w, GREATEST(h.pos - {_KWIC_CTX}, 1), h.pos - 1), ' '), '')
               AS left_ctx,
           COALESCE(ARRAY_TO_STRING(LIST_SLICE(h.w, h.pos + 1, h.pos + {_KWIC_CTX}), ' '), '')
               AS right_ctx
    FROM hits h JOIN term m ON h.tok = m.word
    """,
)
def text_concordance_kwic(spark, sf_dir):
    """Keyword-in-context concordance — the annotation-tooling view corpus
    linguists and labeling pipelines pull before writing guidelines: every
    occurrence of the corpus's most frequent content word (≥ {_KWIC_MINLEN}
    chars, count-then-lexicographic argmax so the term itself is
    reproducible data), with {_KWIC_CTX} words of left/right context joined
    back to strings.  Boundary-clamped slices match LIST_SLICE semantics in
    both engines.  Scale shape: the term argmax is a word-histogram
    aggregate broadcast back as ONE row; occurrence extraction is a
    map-side posexplode + equi-filter — no corpus-sized shuffle at all
    beyond the histogram."""
    d = load_table(spark, sf_dir, "documents")
    toks = spread_scan(
        d.select("doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")),
        "doc_id",
    )
    vocab = (
        toks.select(F.explode("w").alias("word"))
        .filter(F.length("word") >= _KWIC_MINLEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    term = vocab.orderBy(F.col("n").desc(), F.col("word")).limit(1).select("word")
    hits = toks.select(
        "doc_id", "w", F.posexplode("w").alias("pos0", "tok")
    ).select("doc_id", "w", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    lo = F.greatest(F.col("pos") - _KWIC_CTX, F.lit(1))
    return hits.join(
        F.broadcast(term), hits.tok == F.col("word")
    ).select(
        "doc_id",
        "pos",
        F.col("word").alias("term"),
        F.concat_ws(" ", F.slice("w", lo, F.col("pos") - lo)).alias("left_ctx"),
        F.concat_ws(
            " ", F.slice("w", F.col("pos") + 1, F.lit(_KWIC_CTX))
        ).alias("right_ctx"),
    )


fill_doc(text_concordance_kwic, _KWIC_MINLEN=_KWIC_MINLEN, _KWIC_CTX=_KWIC_CTX)
