"""Deduplication queries over ``documents`` (north-star extension surface).

The DuckDB oracles replicate each algorithm step-for-step (same portable
md5-based hashes, same shingling), so even the LSH pipelines are value-checked
— not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.dedup import (
    MINHASH_DOMAIN,
    MINHASH_MOD,
    MINHASH_PERMS,
    cluster_aware_split,
    cross_doc_line_dedup,
    cross_doc_span_dedup,
    exact_dedup_representatives,
    fingerprint_dedup,
    levenshtein_block_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from airflow_cms_inpatient_etl_spark.operators.text import (
    exploded_shingle_hashes,
    hash60,
    words,
)
from airflow_cms_inpatient_etl_spark.queries.base import register
from airflow_cms_inpatient_etl_spark.sources.registry import load_table, snapshot

# Shared oracle CTE: distinct (doc_id, 60-bit shingle hash) posting list,
# mirroring operators.text.words/shingles/exploded_shingle_hashes exactly
# (hash = first 15 hex chars of md5(shingle), as a BIGINT).
_SHINGLES_CTE = """
    toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shingles
        FROM toks
    ),
    ex AS (
        SELECT DISTINCT doc_id,
               CAST('0x' || SUBSTR(MD5(s.shingle), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh) s
    )
"""

# Shared oracle CTE block: exact pairwise Jaccard from the ex posting list.
_JACCARD_CTES = """
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM ex GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT id1, id2,
               inter.n_common / (s1.set_size + s2.set_size - inter.n_common) AS jaccard
        FROM inter
        JOIN sizes s1 ON inter.id1 = s1.doc_id
        JOIN sizes s2 ON inter.id2 = s2.doc_id
    )
"""


@register(
    "dedup_exact_distinct",
    oracle="SELECT DISTINCT lang, source FROM documents",
)
def dedup_exact_distinct(spark, sf_dir):
    """DISTINCT over a column subset (hash-agg; partial combine map-side)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("lang", "source").distinct()


@register(
    "dedup_exact_text",
    oracle="""
    SELECT MD5(text) AS text_key, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY MD5(text)
    """,
)
def dedup_exact_text(spark, sf_dir):
    """Exact dedup with a deterministic surviving representative per text.

    Groups on md5(text), not the text itself: the shuffle then carries 32-byte
    keys instead of multi-KB documents — the only viable exact-dedup shape at
    100 TB (hash collisions are 2^-128-level)."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(F.md5("text").alias("text_key"), "doc_id")
    return (
        exact_dedup_representatives(keyed, "doc_id", ["text_key"])
        .select("text_key", "doc_id", "n_copies")
    )


@register(
    "dedup_fingerprint",
    oracle="""
    SELECT MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))) AS fingerprint,
           MIN(doc_id) AS rep_id, COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def dedup_fingerprint(spark, sf_dir):
    """Normalized-text md5 fingerprint buckets (formatting-insensitive exact dedup)."""
    d = load_table(spark, sf_dir, "documents")
    return fingerprint_dedup(d, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_CTES}
    SELECT id1, id2, jaccard FROM jac WHERE jaccard >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (≥ 0.8) via inverted-index
    self-join — no all-pairs comparison."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.8)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(({a} * (h % {MINHASH_DOMAIN}) + {b}) % {MINHASH_MOD}) AS sig{j}"
                   for j, (a, b) in enumerate(MINHASH_PERMS[:8])
               )}
        FROM ex GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id,
               MD5(CONCAT_WS(',', sig0, sig1, sig2, sig3)) AS band0,
               MD5(CONCAT_WS(',', sig4, sig5, sig6, sig7)) AS band1
        FROM sigs
    ),
    stacked AS (
        SELECT doc_id, UNNEST(['0#' || band0, '1#' || band1]) AS bucket FROM banded
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM stacked a JOIN stacked b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    {_JACCARD_CTES}
    SELECT j.id1, j.id2, j.jaccard
    FROM jac j JOIN cand USING (id1, id2)
    WHERE j.jaccard >= 0.7
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash (8 portable permutations) + 2-band LSH candidate generation +
    exact-Jaccard verification (≥ 0.7).  The oracle replays the identical
    algorithm, so this LSH pipeline is value-checked end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", threshold=0.7)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    votes AS (
        SELECT doc_id, bits.bit,
               SUM(CASE WHEN (h >> bits.bit) & 1 = 1 THEN 1 ELSE -1 END) AS score
        FROM ex, (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS bit) bits
        GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash fingerprint per document from signed shingle-hash bit votes."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(d, "doc_id", "text", n_bits=16)


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_JACCARD_CTES},
    pairs AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.8),
    edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labeled AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_rep FROM reach GROUP BY a)
    SELECT l.doc_id, l.cluster_rep, c.cluster_size
    FROM labeled l
    JOIN (SELECT cluster_rep, COUNT(*) AS cluster_size FROM labeled GROUP BY 1) c
      USING (cluster_rep)
    """,
)
def dedup_connected_components(spark, sf_dir):
    """Near-dup PAIRS → dedup CLUSTERS: connected components over the exact
    n-gram-Jaccard pair graph (>= 0.8), labeling every involved document with
    its component's min doc_id plus the cluster size — the form a dedup
    pipeline consumes (keep rep, drop the rest).  Spark side is alternating
    large-star/small-star (operators/graph.py, O(log n) rounds regardless of
    diameter, driver coordinates rounds only); the oracle computes the same
    components via a recursive-CTE transitive closure — different algorithm,
    identical fixpoint, so the iterative machinery is value-checked
    end-to-end."""
    from airflow_cms_inpatient_etl_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.8)
    labels = connected_components(pairs)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep"), "cluster_size"
    )


@register(
    "split_cluster_aware",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_JACCARD_CTES},
    pairs AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.8),
    edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labeled AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_rep FROM reach GROUP BY a),
    rep AS (
        SELECT d.doc_id, COALESCE(l.cluster_rep, d.doc_id) AS cluster_rep
        FROM (SELECT doc_id FROM documents) d LEFT JOIN labeled l USING (doc_id)
    ),
    sz AS (SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM rep GROUP BY 1)
    SELECT r.doc_id, r.cluster_rep, sz.cluster_size,
           CASE WHEN CAST('0x' || SUBSTR(MD5('casplit:' || CAST(r.cluster_rep AS VARCHAR)), 1, 15)
                          AS BIGINT) % 100 < 90
                THEN 'train' ELSE 'eval' END AS split
    FROM rep r JOIN sz USING (cluster_rep)
    """,
)
def split_cluster_aware(spark, sf_dir):
    """LEAKAGE-SAFE train/eval split: assign the split at the NEAR-DUP
    CLUSTER level, not the document level — a plain per-doc hash split
    (`split_train_test_hash`) puts two near-duplicates on opposite sides of
    the holdout, silently leaking training text into eval (the exact defect
    `decontaminate_*` gates then have to catch downstream; splitting by
    cluster prevents it by construction).  Clusters are the connected
    components of the exact n-gram-Jaccard pair graph (>= 0.8; singletons
    are their own cluster), and the split key is the portable salted md5 of
    the cluster REPRESENTATIVE — so every member of a cluster lands on the
    same side and the 90/10 rate applies to clusters, not docs.  Stability
    scope: the split is stable WHILE CLUSTER MEMBERSHIP IS STABLE — corpus
    growth that merges two clusters changes one side's min-label rep, so
    those members' split can flip (inherent to cluster-level splitting);
    the leakage guarantee itself holds at every snapshot.  Output per doc:
    cluster rep, cluster size, split.

    Scale: the split machinery is `operators.dedup.cluster_aware_split`
    with the PAIR GRAPH AS A PARAMETER — here the exact-Jaccard
    posting-list pairs (df-capped; also exact ground truth for the
    oracle), at 100 TB the verified MinHash-LSH pairs
    (`minhash_lsh_pairs`, banded-bucket cost, same edge semantics) —
    equivalence tested where LSH recall = 1.  Components via alternating
    large-star/small-star (O(log n) rounds, `operators/graph.py`); the
    split itself is a map-side hash of an 8-byte rep.  The oracle
    recomputes the same components via a recursive-CTE transitive closure
    — different algorithm, identical fixpoint — then applies the identical
    split expression."""
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.8)
    return cluster_aware_split(d, "doc_id", pairs, train_pct=90)


@register(
    "dedup_levenshtein_block",
    oracle="""
    WITH d AS (SELECT doc_id, LOWER(TRIM(text)) AS t FROM documents),
    b AS (SELECT doc_id, t, SUBSTR(t, 1, 30) AS blk FROM d)
    SELECT a.doc_id AS id1, c.doc_id AS id2,
           CAST(levenshtein(a.t, c.t) AS BIGINT) AS edit_dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.t, c.t) <= 0.2 * GREATEST(LEN(a.t), LEN(c.t))
    """,
)
def dedup_levenshtein_block(spark, sf_dir):
    """Edit-distance near-dup pairs with prefix blocking — the fifth dedup
    family (exact, Jaccard, MinHash, SimHash, edit distance): catches
    character-level corruption that token-shingle methods under-weigh.
    Levenshtein is O(len²) per pair, so candidates are bounded by a
    30-char normalized-prefix equi-join block (operators/dedup.py:
    levenshtein_block_pairs), never all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    return levenshtein_block_pairs(d, "doc_id", "text", rel_threshold=0.2, prefix_len=30)


# also the oracle of queries.streaming_live.streaming_dedup_gate_live, whose
# drained sink is this table
INCREMENTAL_INDEX_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    delta AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    dsh AS (SELECT doc_id, h FROM ex WHERE doc_id % 10 = 0),
    idx AS (SELECT DISTINCT h FROM ex WHERE doc_id % 10 != 0),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM dsh GROUP BY doc_id),
    hit AS (SELECT dsh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM dsh JOIN idx USING (h) GROUP BY dsh.doc_id)
    SELECT d.doc_id,
           COALESCE(n_shingles, 0) AS n_shingles,
           COALESCE(n_shared, 0) AS n_shared,
           COALESCE(n_shared, 0) / GREATEST(COALESCE(n_shingles, 0), 1) AS shared_frac,
           COALESCE(n_shared, 0) / GREATEST(COALESCE(n_shingles, 0), 1) >= 0.5
               AS near_dup_of_corpus
    FROM delta d LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
    """


@register("dedup_incremental_index", oracle=INCREMENTAL_INDEX_ORACLE)
def dedup_incremental_index(spark, sf_dir):
    """Incremental dedup of a NEW batch against the standing corpus — the
    shape a daily crawl ingest actually runs: never re-shingle the whole
    corpus, join the delta's shingles against the precomputed corpus shingle
    index (here both sides derive from the fixture, split delta = doc_id%10==0
    vs standing = rest; in production the index is a bucketed table on the
    int64 hash, appended per ingest).  Per delta doc: distinct-shingle total,
    how many also occur in the corpus index, and a ≥50%-overlap near-dup
    flag.  Complements decontaminate_ngram_overlap (broadcast vs a SMALL eval
    set): this is the BIG-big variant — a shuffle equi-join on the int64
    shingle hash, skew-safe under AQE, with map-side partial counts; cost is
    O(delta shingles), not O(corpus), which is what makes daily ingest at
    100 TB affordable.  Left join from the delta doc list so shingle-less
    (<3-token) docs still appear with zeros."""
    d = load_table(spark, sf_dir, "documents")
    sh = exploded_shingle_hashes(d, "doc_id", "text")
    dsh = sh.filter(F.col("doc_id") % 10 == 0)
    idx = sh.filter(F.col("doc_id") % 10 != 0).select("h").distinct()
    tot = dsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = dsh.join(idx, "h").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared"))
    delta = d.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0).cast("bigint"))
    n_hit = F.coalesce(F.col("n_shared"), F.lit(0).cast("bigint"))
    frac = n_hit / F.greatest(n_sh, F.lit(1).cast("bigint"))
    return (
        delta.join(tot, "doc_id", "left")
        .join(hit, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            n_hit.alias("n_shared"),
            frac.alias("shared_frac"),
            (frac >= 0.5).alias("near_dup_of_corpus"),
        )
    )


# --------------------------------------------------------------------------- #
# dedup_repeated_spans — cross-document exact substring (span) removal         #
# --------------------------------------------------------------------------- #

_SPAN_W = 10        # tokens per span (pseudo-sentence window)
_SPAN_MIN_DOCS = 2  # a span is "repeated" once >= 2 distinct docs carry it

_SPANS_CTE = f"""
    toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    spans AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               ARRAY_TO_STRING(LIST_SLICE(w, (i-1)*{_SPAN_W}+1, i*{_SPAN_W}), ' ') AS span,
               CAST('0x' || SUBSTR(MD5(
                   ARRAY_TO_STRING(LIST_SLICE(w, (i-1)*{_SPAN_W}+1, i*{_SPAN_W}), ' ')
               ), 1, 15) AS BIGINT) AS h
        FROM toks,
             UNNEST(RANGE(1, GREATEST(CAST(CEIL(LEN(w) / {_SPAN_W}.0) AS BIGINT), 1) + 1)) AS t(i)
    )
"""


@register(
    "dedup_repeated_spans",
    oracle=f"""
    WITH {_SPANS_CTE},
    rep AS (
        SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM spans GROUP BY h HAVING COUNT(DISTINCT doc_id) >= {_SPAN_MIN_DOCS}
    ),
    f1 AS (
        SELECT s.h, MIN(s.doc_id) AS fdoc
        FROM spans s JOIN rep USING (h) GROUP BY s.h
    ),
    f2 AS (
        SELECT s.h, f1.fdoc, MIN(s.pos) AS fpos
        FROM spans s JOIN f1 ON s.h = f1.h AND s.doc_id = f1.fdoc
        GROUP BY s.h, f1.fdoc
    ),
    flagged AS (
        SELECT s.doc_id, s.pos, s.span,
               (rep.h IS NULL OR (s.doc_id = f2.fdoc AND s.pos = f2.fpos)) AS keep
        FROM spans s
        LEFT JOIN rep ON rep.h = s.h
        LEFT JOIN f2 ON f2.h = s.h
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_removed,
           COALESCE(STRING_AGG(span, ' ' ORDER BY pos) FILTER (WHERE keep), '')
               AS dedup_text
    FROM flagged GROUP BY doc_id
    """,
)
def dedup_repeated_spans(spark, sf_dir):
    """Cross-document exact substring dedup at span (pseudo-sentence)
    granularity — the Lee-et-al-2021-style stage the document-granularity
    family misses: a paragraph pasted into 1 000 pages survives document
    dedup (every page differs) but is removed here, keeping only its
    corpus-wide FIRST occurrence (min (doc_id, pos) — deterministic).

    Spans are non-overlapping {_SPAN_W}-token windows built MAP-SIDE from the
    token array (no per-token explode/shuffle).  One shuffle computes
    per-span-hash stats (distinct-doc count + canonical first occurrence as
    a lexicographic struct-min); each span row then joins at most ONE stats
    row — linear in corpus size by construction, no self-join, so unlike
    the pair-generating dedups there is no hot-key quadratic to cap.  The
    per-doc rebuild concatenates kept spans in position order (ordered
    collect ↔ STRING_AGG ORDER BY — deterministic on both engines)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", words(F.col("text")).alias("__w"))
    n = F.ceil(F.size("__w") / F.lit(float(_SPAN_W))).cast("int")
    arr = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.array_join(
            F.slice(F.col("__w"), (i - 1) * _SPAN_W + 1, F.lit(_SPAN_W)), " "
        ),
    )
    spans = t.select("doc_id", F.posexplode(arr).alias("pos0", "span")).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        "span",
        hash60(F.col("span")).alias("h"),
    )
    stats = (
        spans.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.struct("doc_id", "pos")).alias("first_occ"),
        )
        .filter(F.col("n_docs") >= _SPAN_MIN_DOCS)
    )
    flagged = spans.join(stats, "h", "left").select(
        "doc_id",
        "pos",
        "span",
        (
            F.col("n_docs").isNull()
            | (
                (F.col("doc_id") == F.col("first_occ.doc_id"))
                & (F.col("pos") == F.col("first_occ.pos"))
            )
        ).alias("keep"),
    )
    kept_struct = F.when(F.col("keep"), F.struct("pos", "span"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x.getField("span"),
            ),
            " ",
        ).alias("dedup_text"),
    )


# --------------------------------------------------------------------------- #
# dedup_simhash_hamming — Hamming-ball near-dup join via pigeonhole banding    #
# --------------------------------------------------------------------------- #

_HAM_BITS = 60       # fingerprint width (hash60 carries 60 meaningful bits)
_HAM_BANDS = 4       # r+1 bands ⇒ guaranteed recall for hamming <= _HAM_T
_HAM_BAND_BITS = 15  # band key space 2^15 — see the scale note in the docstring
_HAM_T = 3           # Hamming radius (must be < _HAM_BANDS for the guarantee)
_HAM_MAX_BUCKET = 64  # hot-band occupancy cap (the minhash max_df contract)


@register(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH {{_SHINGLES_CTE}},
    votes AS (
        SELECT doc_id, bits.bit,
               SUM(CASE WHEN (h >> bits.bit) & 1 = 1 THEN 1 ELSE -1 END) AS score
        FROM ex, (SELECT UNNEST(GENERATE_SERIES(0, {_HAM_BITS - 1})) AS bit) bits
        GROUP BY 1, 2
    ),
    fp AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << bit)
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS f
        FROM votes GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, f, bi.i AS i,
               (f >> (15 * bi.i)) & 32767 AS key
        FROM fp, (SELECT UNNEST(GENERATE_SERIES(0, {_HAM_BANDS - 1})) AS i) bi
    ),
    occ AS (
        SELECT i, key FROM bands GROUP BY i, key
        HAVING COUNT(*) <= {_HAM_MAX_BUCKET}
    ),
    kept AS (SELECT b.* FROM bands b JOIN occ USING (i, key)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.f AS f1, b.f AS f2
        FROM kept a JOIN kept b ON a.i = b.i AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id1, id2, CAST(BIT_COUNT(XOR(f1, f2)) AS INT) AS hamming
    FROM cand WHERE BIT_COUNT(XOR(f1, f2)) <= {_HAM_T}
    """.replace("{_SHINGLES_CTE}", _SHINGLES_CTE),
)
def dedup_simhash_hamming(spark, sf_dir):
    """Near-dup PAIRS from SimHash fingerprints via Hamming-ball search — the
    candidate-generation step the plain fingerprint query stops short of.
    The scale trick is PIGEONHOLE BANDING (Manku et al., WWW'07, public
    method): split the 60-bit fingerprint into 4 bands of 15 bits; any
    pair within Hamming distance 3 < 4 bands must agree EXACTLY on at
    least one band, so the self-join runs per (band, key) bucket — cost ∝
    bucket occupancy, never corpus² — with guaranteed recall inside the
    radius.  BAND KEY SPACE MUST SCALE WITH THE CORPUS: an earlier 8-bit
    band design collapsed at the 10× canary (50 k docs / 256 keys ⇒ every
    bucket over the cap ⇒ zero pairs); 2^15 keys hold average occupancy
    ~1 up to ~10^5 docs per partition of the corpus, and beyond that the
    knobs are wider bands (more fingerprint bits per band) or a coarse
    pre-partition (by language/source) so each partition's population fits
    its key space — Manku's production design is exactly such a table
    family.  Hot buckets (one band value shared by a huge population —
    the skew that makes banded joins quadratic) are dropped at the
    occupancy cap, the same documented approximation contract as
    minhash's max_df; exact bit_count(xor) verification keeps candidates
    inside the radius, so banding introduces no false positives.  One
    shuffle per stage: fingerprint votes, band buckets, candidate dedup."""
    d = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(d, "doc_id", "text", n_bits=_HAM_BITS).select(
        "doc_id", F.col("simhash").alias("f")
    )
    # persist: the band table feeds the occupancy aggregate AND both sides of
    # the bucket self-join — without the pin Catalyst re-runs the whole
    # shingle→fingerprint pipeline per consumer (no sibling-subplan CSE);
    # the pinned table is 4 small rows per document
    bands = (
        fp.select(
            "doc_id",
            "f",
            F.explode(F.sequence(F.lit(0), F.lit(_HAM_BANDS - 1))).alias("i"),
        )
        .withColumn(
            "key", F.expr(f"shiftright(f, {_HAM_BAND_BITS} * i) & {2**_HAM_BAND_BITS - 1}")
        )
    )
    # tracked snapshot, not persist: a persist would pin one CacheManager
    # entry per invocation with no unpersist hook (registry.release_snapshots)
    bands = snapshot(bands)
    small = (
        bands.groupBy("i", "key")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") <= _HAM_MAX_BUCKET)
        .select("i", "key")
    )
    kept = bands.join(small, ["i", "key"], "semi")
    a = kept.select("i", "key", F.col("doc_id").alias("id1"), F.col("f").alias("f1"))
    b = kept.select("i", "key", F.col("doc_id").alias("id2"), F.col("f").alias("f2"))
    cand = (
        a.join(b, ["i", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "f1", "f2")
        .distinct()
    )
    return cand.select(
        "id1",
        "id2",
        F.bit_count(F.expr("f1 ^ f2")).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= _HAM_T)


# --------------------------------------------------------------------------- #
# dedup_cluster_canonical — the production close of near-dup dedup:            #
# LSH pairs -> connected components -> one canonical survivor per cluster      #
# --------------------------------------------------------------------------- #

_MINHASH_PAIR_CTES = f"""
    sigs AS (
        SELECT doc_id,
               {", ".join(
                   f"MIN(({a} * (h % {MINHASH_DOMAIN}) + {b}) % {MINHASH_MOD}) AS sig{j}"
                   for j, (a, b) in enumerate(MINHASH_PERMS[:8])
               )}
        FROM ex GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id,
               MD5(CONCAT_WS(',', sig0, sig1, sig2, sig3)) AS band0,
               MD5(CONCAT_WS(',', sig4, sig5, sig6, sig7)) AS band1
        FROM sigs
    ),
    stacked AS (
        SELECT doc_id, UNNEST(['0#' || band0, '1#' || band1]) AS bucket FROM banded
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM stacked a JOIN stacked b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
"""


@register(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_MINHASH_PAIR_CTES}, {_JACCARD_CTES},
    pairs AS (
        SELECT j.id1, j.id2 FROM jac j JOIN cand USING (id1, id2)
        WHERE j.jaccard >= 0.7
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION SELECT id2, id1 FROM pairs
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b != r.a
    ),
    lab AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
    ),
    sized AS (
        SELECT l.doc_id, l.cluster_id, d.n_chars,
               COUNT(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
               ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                  ORDER BY d.n_chars DESC, l.doc_id) AS rn
        FROM lab l JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           rn = 1 AS is_canonical
    FROM sized
    """,
)
def dedup_cluster_canonical(spark, sf_dir):
    """The production CLOSE of near-dup dedup: the pair families
    (`dedup_minhash_lsh` and friends) emit verified near-dup PAIRS, but a
    pipeline must decide which documents to keep — and pairwise greedy
    drops are order-dependent and break on chains (A~B, B~C, A≁C).  This
    query makes the decision transitively: verified LSH pairs → connected
    components (large-star/small-star, `operators/graph.py:117` — the same
    O(log n)-round labeling FineWeb-style dedup runs) → per cluster keep
    the longest document, ties to the lowest doc_id.  Output is one row
    per CLUSTERED doc (singletons never enter the pair list, keeping
    output ∝ duplicate mass, not corpus size).  Scale: pair generation is
    the banded/capped LSH path; CC shuffles O(edges) per round for
    ceil(log2 n) rounds; the canonical window partitions by cluster —
    cluster sizes are bounded by dup-community size, never corpus size.
    The oracle re-derives identical pairs, closes them with a recursive
    CTE, and picks the same canonicals — transitivity value-checked
    cross-engine."""
    from airflow_cms_inpatient_etl_spark.operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    # no materialization here: connected_components snapshots its input once
    # before deriving nodes AND edges, so the MinHash pipeline runs once
    pairs = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.7)
    labels = connected_components(pairs.select("id1", "id2"))
    meta = d.select(F.col("doc_id"), "n_chars")
    clustered = labels.join(meta, labels["node"] == meta["doc_id"]).select(
        "doc_id", F.col("label").alias("cluster_id"), "n_chars"
    )
    cw = W.partitionBy("cluster_id")
    rw = W.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    return clustered.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(cw).alias("cluster_size"),
        (F.row_number().over(rw) == 1).alias("is_canonical"),
    )


# --------------------------------------------------------------------------- #
# dedup_lsh_recall_report — the LSH pipeline grading itself against ground     #
# truth, as a query                                                            #
# --------------------------------------------------------------------------- #


@register(
    "dedup_lsh_recall_report",
    oracle=f"""
    WITH {_SHINGLES_CTE}, {_MINHASH_PAIR_CTES}, {_JACCARD_CTES},
    lsh AS (
        SELECT j.id1, j.id2 FROM jac j JOIN cand USING (id1, id2)
        WHERE j.jaccard >= 0.7
    ),
    truth AS (SELECT id1, id2 FROM jac WHERE jaccard >= 0.7),
    m AS (
        SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
               CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
               CAST((SELECT COUNT(*) FROM lsh JOIN truth USING (id1, id2))
                    AS BIGINT) AS n_hit
    )
    SELECT n_truth, n_lsh, n_hit,
           CASE WHEN n_truth = 0 THEN 10000
                ELSE n_hit * 10000 // n_truth END AS recall_x10000,
           CASE WHEN n_lsh = 0 THEN 10000
                ELSE n_hit * 10000 // n_lsh END AS precision_x10000
    FROM m
    """,
)
def dedup_lsh_recall_report(spark, sf_dir):
    """The near-dup pipeline GRADING ITSELF, as a first-class query: recall
    and precision of the banded MinHash-LSH candidate path against the
    exact shingle-Jaccard ground truth at the same threshold — the number
    a production dedup deploy must publish before anyone trusts its misses
    (RECALL.md documents the static analysis; this computes it live, so a
    re-banding or cap change shows up as a metric shift, not a silent
    recall hole).  Because the LSH path VERIFIES candidates with exact
    Jaccard, precision is 1.0 by construction and recall measures exactly
    the banding loss (pairs whose signatures collide in no band).  Both
    sides reduce to (id1, id2) pair sets; the exact side reuses the
    inverted-index self-join (posting-list bounded, never all-pairs), the
    intersection is a pair-keyed semi-join, and the report is one row of
    integer ratios."""
    d = load_table(spark, sf_dir, "documents")
    # tracked snapshots: each pair list is consumed 2-3× (semi-join + the
    # count aggregates) and each one's PRODUCER is a full dedup pipeline —
    # without the snapshots both pipelines re-run per consumer (measured
    # ~2× on this query at sf0.1); registry.release_snapshots frees them
    truth = snapshot(
        ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.7).select("id1", "id2")
    )
    lsh = snapshot(
        minhash_lsh_pairs(d, "doc_id", "text", threshold=0.7).select("id1", "id2")
    )
    hit = lsh.join(truth, ["id1", "id2"], "semi")
    m = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(F.broadcast(lsh.agg(F.count(F.lit(1)).alias("n_lsh"))))
        .crossJoin(F.broadcast(hit.agg(F.count(F.lit(1)).alias("n_hit"))))
    )
    return m.select(
        "n_truth",
        "n_lsh",
        "n_hit",
        F.expr(
            "CASE WHEN n_truth = 0 THEN 10000L ELSE (n_hit * 10000) div n_truth END"
        ).alias("recall_x10000"),
        F.expr(
            "CASE WHEN n_lsh = 0 THEN 10000L ELSE (n_hit * 10000) div n_lsh END"
        ).alias("precision_x10000"),
    )


# --------------------------------------------------------------------------- #
# dedup_cross_doc_lines — C4/FineWeb-style cross-document line-level dedup     #
# --------------------------------------------------------------------------- #

_LINE_P = 8       # content-defined boundary period (E[line length] = 8 tokens)
_LINE_MAX_DF = 3  # a line carried by > 3 distinct docs is boilerplate: drop ALL

# Shared oracle CTE block: content-defined line segmentation + df-capped
# drop-all + per-doc rebuild (consumed by dedup_cross_doc_lines here and by
# corpus_curation_v7 in queries/pipeline.py).
_CDL_CTES = f"""
    toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    seg AS (
        SELECT doc_id, w,
               LIST_PREPEND(CAST(1 AS BIGINT), LIST_TRANSFORM(bp, b -> b + 1)) AS starts,
               LIST_APPEND(bp, CAST(LEN(w) AS BIGINT)) AS ends
        FROM (SELECT doc_id, w,
                     LIST_FILTER(RANGE(1, LEN(w) + 1),
                         i -> CAST('0x' || SUBSTR(MD5(w[i]), 1, 15) AS BIGINT)
                              % {_LINE_P} = 0) AS bp
              FROM toks)
    ),
    lines AS (
        SELECT doc_id, CAST(j AS BIGINT) AS pos,
               ARRAY_TO_STRING(LIST_SLICE(w, starts[j], ends[j]), ' ') AS line
        FROM seg, UNNEST(RANGE(1, LEN(starts) + 1)) AS t(j)
        WHERE ends[j] >= starts[j]
    ),
    lstats AS (
        SELECT CAST('0x' || SUBSTR(MD5(line), 1, 15) AS BIGINT) AS h,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM lines GROUP BY 1
    ),
    lflag AS (
        SELECT l.doc_id, l.pos, l.line,
               (s.n_docs <= {_LINE_MAX_DF}) AS keep
        FROM lines l
        JOIN lstats s ON s.h = CAST('0x' || SUBSTR(MD5(l.line), 1, 15) AS BIGINT)
    ),
    rebuilt AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_removed,
               COALESCE(STRING_AGG(line, CHR(10) ORDER BY pos) FILTER (WHERE keep),
                        '') AS dedup_text
        FROM lflag GROUP BY doc_id
    )
"""


@register(
    "dedup_cross_doc_lines",
    oracle=f"""
    WITH {_CDL_CTES}
    SELECT doc_id, n_lines, n_removed, dedup_text FROM rebuilt
    """,
)
def dedup_cross_doc_lines(spark, sf_dir):
    """Cross-document LINE-level exact dedup — the C4/FineWeb boilerplate
    pass: a line that appears in more than ``max_df`` distinct documents
    (nav header, cookie banner, license footer) is dropped from EVERY
    document, and each document's text is reassembled from its surviving
    lines in position order.  Drop-ALL semantics deliberately contrast with
    ``dedup_repeated_spans``' keep-first rule: a passage repeated a handful
    of times is content (keep one copy); a line repeated across the corpus
    is template noise (keep none).

    Lines are CONTENT-DEFINED (`operators.dedup.content_defined_lines`):
    a segment ends after any token whose hash60 ≡ 0 (mod period) — the Rabin
    chunker argument at token granularity, so identical passages align
    across documents regardless of offset (fixed windows lose alignment
    after one inserted word; this corpus stores running text, so the hash
    boundary supplies the line structure a newline corpus gets for free).

    Scale: segmentation is map-side HOFs over the materialized token array
    (no shuffle); ONE shuffle computes per-line-hash document frequency on
    8-byte ints (the line text never keys an exchange); each line row joins
    at most one stats row (hash-equi, linear — no self-join, no quadratic
    hot key); the per-doc rebuild is an ordered collect partitioned by
    doc_id, bounded by document length.  At 100 TB the stats table is
    corpus-sized but the join stays shuffle-hash on fixed-width keys, and
    the df-cap makes the boilerplate key distribution irrelevant (we never
    enumerate occurrence PAIRS, only count distinct docs)."""
    d = load_table(spark, sf_dir, "documents")
    return cross_doc_line_dedup(
        d, "doc_id", "text", period=_LINE_P, max_df=_LINE_MAX_DF
    )


# --------------------------------------------------------------------------- #
# dedup_prefix_jaccard — prefix-filtering candidate generation (ppjoin family) #
# --------------------------------------------------------------------------- #

_PFX_T = 0.7  # Jaccard threshold (prefix length derives from it, see below)


@register(
    "dedup_prefix_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE}, {_JACCARD_CTES}
    SELECT id1, id2, jaccard FROM jac WHERE jaccard >= {_PFX_T}
    """,
)
def dedup_prefix_jaccard(spark, sf_dir):
    """Exact-Jaccard near-dup pairs via PREFIX FILTERING (Bayardo et al.
    WWW'07 / the ppjoin family) — the third candidate-generation strategy
    in this registry, alongside the df-capped inverted index
    (`dedup_ngram_jaccard`) and banded MinHash (`dedup_minhash_lsh`).
    Order every document's shingles by GLOBAL document frequency (rarest
    first, ties by hash — a total order), keep only the first
    |x| − ⌈t·|x|⌉ + 1 as the document's PREFIX, and self-join prefixes:
    any pair with Jaccard ≥ t must share a prefix token (if x∩y missed
    x's prefix entirely it would fit inside the ⌈t·|x|⌉−1 suffix, smaller
    than the t·|x| overlap the threshold forces — contradiction), so the
    candidate set is LOSSLESS while skipping every pair that only shares
    common shingles.  ⌈0.7·n⌉ is computed as (7n+9) div 10 — integer
    arithmetic, no float ceil.  Exact Jaccard verification then runs ONLY
    on candidates (the minhash verification shape).

    The ORACLE is the plain exact-Jaccard ground truth: a hash match
    therefore PROVES the lossless-recall theorem held on this corpus —
    the same self-grading trick as `dedup_lsh_recall_report`, folded into
    the result itself.  Scale: prefixes shrink hot posting lists from the
    COMMON end (a stop-shingle is almost never in anyone's prefix — the
    df-cap effect derived, not configured), candidate cost is
    Σ prefix-df², and the rarest-first order makes that sum small by
    construction; one extra shuffle (global df join) buys it."""
    d = load_table(spark, sf_dir, "documents")
    # tracked snapshot: the per-token md5 shingle pipeline feeds THREE
    # consumers (df census, per-doc set census, prefix ranking) — without it
    # the gram hashing re-runs per consumer (measured ~2× on this query at
    # sf0.1); registry.release_snapshots frees the blocks
    ex = snapshot(exploded_shingle_hashes(d, "doc_id", "text"))
    df_ = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # one doc-keyed exchange builds the per-doc SET ARRAYS; sizes derive from
    # them for free, and verification intersects arrays per candidate pair
    # instead of re-exploding shingle rows (optimization round 16, guide
    # §2.3: the old shape shuffled every candidate's full shingle list —
    # Σ|cand| × |set| rows ≈ 10.5M at sf0.1 — through a (doc, h) exchange;
    # the arrays move each doc's set once and the intersection is map-side)
    docsets = snapshot(
        ex.groupBy("doc_id").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    )
    sizes = docsets.select("doc_id", F.size("hs").cast("long").alias("set_size"))
    ranked = (
        ex.join(df_, "h")
        .join(sizes, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "h")),
        )
    )
    prefix_len = F.col("set_size") - F.expr("(7 * set_size + 9) div 10") + 1
    prefix = ranked.filter(F.col("rk") <= prefix_len).select("doc_id", "h")
    a = prefix.select(F.col("doc_id").alias("id1"), "h")
    b = prefix.select(F.col("doc_id").alias("id2"), "h")
    cand = (
        a.join(b, "h").filter(F.col("id1") < F.col("id2")).select("id1", "id2").distinct()
    )
    s1 = docsets.select(F.col("doc_id").alias("id1"), F.col("hs").alias("h1"))
    s2 = docsets.select(F.col("doc_id").alias("id2"), F.col("hs").alias("h2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("h1", "h2")).cast("long").alias("n_common"),
            F.size("h1").cast("long").alias("size1"),
            F.size("h2").cast("long").alias("size2"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("size1") + F.col("size2") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= _PFX_T)
        .select("id1", "id2", "jaccard")
    )


# --------------------------------------------------------------------------- #
# dedup_cross_doc_spans — ExactSubstr-family cross-document substring dedup    #
# --------------------------------------------------------------------------- #

_SPAN_K = 5    # anchor gram width (tokens)
_SPAN_L = 12   # merged runs shorter than this many tokens survive


@register(
    "dedup_cross_doc_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               CAST('0x' || SUBSTR(MD5(ARRAY_TO_STRING(
                   LIST_SLICE(w, i, i + {_SPAN_K} - 1), ' ')), 1, 15) AS BIGINT) AS h
        FROM toks, UNNEST(RANGE(1, GREATEST(LEN(w) - {_SPAN_K} + 2, 1))) AS t(i)
    ),
    dup AS (
        SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dstarts AS (
        SELECT g.doc_id, g.i FROM grams g JOIN dup USING (h)
    ),
    isl AS (
        SELECT doc_id, i,
               SUM(CASE WHEN prev_i IS NULL OR i > prev_i + {_SPAN_K}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM (SELECT doc_id, i,
                     LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
              FROM dstarts)
    ),
    spans AS (
        SELECT doc_id, MIN(i) AS s, MAX(i) + {_SPAN_K} - 1 AS e
        FROM isl GROUP BY doc_id, island
        HAVING MAX(i) + {_SPAN_K} - MIN(i) >= {_SPAN_L}
    ),
    removed_pos AS (
        SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p
        FROM spans, UNNEST(RANGE(s, e + 1)) AS t(p)
    ),
    tokpos AS (
        SELECT doc_id, CAST(j AS BIGINT) AS j, w[j] AS tok
        FROM toks, UNNEST(RANGE(1, LEN(w) + 1)) AS t(j)
    ),
    rebuilt AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE r.p IS NOT NULL) AS BIGINT)
                   AS n_tokens_removed,
               COALESCE(STRING_AGG(t.tok, ' ' ORDER BY t.j)
                            FILTER (WHERE r.p IS NULL), '') AS dedup_text
        FROM tokpos t
        LEFT JOIN removed_pos r ON t.doc_id = r.doc_id AND t.j = r.p
        GROUP BY t.doc_id
    ),
    nsp AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_removed
        FROM spans GROUP BY doc_id
    )
    SELECT r.doc_id, r.n_tokens,
           COALESCE(n.n_spans_removed, CAST(0 AS BIGINT)) AS n_spans_removed,
           r.n_tokens_removed, r.dedup_text
    FROM rebuilt r LEFT JOIN nsp n USING (doc_id)
    """,
)
def dedup_cross_doc_spans(spark, sf_dir):
    """Cross-document EXACT-SUBSTRING dedup — the remaining standard
    production LLM-dedup family (Lee et al. 2022's ExactSubstr, the
    suffix-array pass), completing the granularity ladder: whole-document
    (`dedup_exact_text`), near-duplicate (`dedup_minhash_lsh`), repeated
    spans WITHIN a document (`dedup_repeated_spans`), shared LINES across
    documents (`dedup_cross_doc_lines`), and now verbatim TOKEN RUNS of
    ≥ {_SPAN_L} tokens appearing in more than one document — quotations,
    syndicated passages, licence blocks that the line segmentation splits
    across boundaries.

    Relational formulation (`operators.dedup.cross_doc_span_dedup`):
    {_SPAN_K}-token anchor grams are hashed map-side, starts whose gram
    occurs in ≥ 2 distinct documents are duplicated, consecutive
    duplicated starts merge into maximal runs (gaps-and-islands — the
    sorted-gram neighbor extension replacing the suffix array), and
    merged runs of ≥ {_SPAN_L} tokens are dropped from every carrier.
    The documented relaxation: each anchor in a removed run is witnessed
    elsewhere, but the run as a whole may interleave witnesses —
    over-removal only, the same trade Bloom-filter ExactSubstr (BFF)
    makes to stay distributable.

    The ORACLE recomputes the full pipeline independently in DuckDB
    (window-function islands vs Spark's lag-based islands; position-level
    anti-join rebuild vs Spark's map-side HOF rebuild) — different
    derivations, same fixpoint, value-hash-compared including the
    reassembled text.  Scale: see the operator docstring — one 8-byte-key
    census shuffle, duplicate-mass-bounded islands, and the corpus-linear
    doc-keyed rebuild floor shared with the line pass."""
    d = load_table(spark, sf_dir, "documents")
    return cross_doc_span_dedup(d, "doc_id", "text", k=_SPAN_K, min_len=_SPAN_L)


# --------------------------------------------------------------------------- #
# corpus_ngram_novelty — marginal-novelty scoring by ingestion order           #
# --------------------------------------------------------------------------- #


@register(
    "corpus_ngram_novelty",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    f AS (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h)
    SELECT ex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = ex.doc_id) AS BIGINT) AS n_novel,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = ex.doc_id) * 1000000 // COUNT(*)
               AS BIGINT) AS novelty_ppm
    FROM ex JOIN f USING (h)
    GROUP BY ex.doc_id
    """,
)
def corpus_ngram_novelty(spark, sf_dir):
    """Per-document marginal novelty: the fraction (ppm, integer-exact) of a
    document's distinct word-3-gram hashes whose FIRST corpus occurrence
    (minimum doc_id, standing in for ingestion order) is this document —
    the standard curation signal for ranking documents by how much new
    content they add to a growing corpus (a verbatim re-crawl scores 0, the
    first copy scores 1e6; boilerplate-heavy pages score low without any
    pairwise comparison).

    Plan: the shared distinct posting list (8-byte gram hashes, spread off
    the degenerate scan) → gram-first census (``min(doc_id)`` — algebraic,
    map-side partial, one 8-byte-key exchange) → hash-join back → per-doc
    counts.  No payload ever rides an exchange and no pair is enumerated:
    cost is Σ posting-list length, the same inverted-index class as the
    cross-doc line/span census, so the shape survives 100 TB.  Integer
    ppm via ``div`` keeps the score oracle-exact (no double rounding)."""
    d = load_table(spark, sf_dir, "documents")
    ex = exploded_shingle_hashes(d, "doc_id", "text")
    first = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        ex.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("first_doc") == F.col("doc_id")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("(n_novel * 1000000) div n_grams").alias("novelty_ppm"),
        )
    )


# --------------------------------------------------------------------------- #
# dedup_winnowing — MOSS-style robust fingerprint overlap census (round 11)    #
# --------------------------------------------------------------------------- #

_WIN_MAX_DF = 100   # stop-fingerprint cap (the minhash max_df contract)
_WIN_MIN_SHARED = 2


@register(
    "dedup_winnowing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w FROM documents
    ),
    g AS (
        SELECT doc_id,
               UNNEST(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1)) AS pos,
               UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        FROM toks
    ),
    kk AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               (CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) % {1 << 43})
                   * {1 << 20} + CAST(pos AS BIGINT) AS k
        FROM g
    ),
    win AS (
        SELECT doc_id, pos,
               MIN(k) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fpk
        FROM kk
    ),
    dfh AS (
        SELECT DISTINCT doc_id, fpk // {1 << 20} AS fh
        FROM win WHERE pos >= 4
    ),
    cap AS (
        SELECT fh FROM (SELECT fh, COUNT(*) AS nd FROM dfh GROUP BY fh) t
        WHERE nd <= {_WIN_MAX_DF}
    ),
    pairs AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM dfh a JOIN dfh b USING (fh) JOIN cap USING (fh)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id1, id2, n_shared FROM pairs WHERE n_shared >= {_WIN_MIN_SHARED}
    """,
)
def dedup_winnowing(spark, sf_dir):
    """MOSS winnowing overlap census: robust-winnowed fingerprints (every
    shared 6-word run is guaranteed at least one common selected fingerprint,
    at ~2/(w+1) storage) → per-fingerprint doc census with the standard
    stop-fingerprint df cap → doc-pair shared-fingerprint counts ≥ 2.  The
    plagiarism/derivative-content detector that positional dedup families
    (rolling hash, repeated spans) don't cover: winnowing is position-robust
    (insertions between shared runs don't move the selected grams).  One
    doc-keyed window + one 8-byte-key census join — payload never shuffled."""
    from airflow_cms_inpatient_etl_spark.operators.dedup import winnow_fingerprints

    d = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(d, "doc_id", "text", k=3, window=4)
    dfh = fps.select("doc_id", "fh").distinct()
    cap = (
        dfh.groupBy("fh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") <= _WIN_MAX_DF)
        .select("fh")
    )
    capped = dfh.join(cap, "fh")
    a = capped.select(F.col("fh"), F.col("doc_id").alias("id1"))
    b = capped.select(F.col("fh"), F.col("doc_id").alias("id2"))
    return (
        a.join(b, "fh")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )


# --------------------------------------------------------------------------- #
# dedup_bloom_gate — Bloom prefilter in front of the standing dedup index      #
# --------------------------------------------------------------------------- #
_BG_BITS = 1 << 17  # 16 KiB filter
_BG_HASHES = 4


@register(
    "dedup_bloom_gate",
    oracle="""
    WITH docs AS (
        SELECT doc_id, MD5(text) AS fp FROM documents WHERE text IS NOT NULL
    ),
    standing AS (SELECT doc_id, fp FROM docs WHERE doc_id % 5 <> 0),
    delta AS (
        SELECT doc_id, fp FROM docs WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 1000000, fp FROM standing WHERE doc_id % 37 = 0
    ),
    keys AS (SELECT DISTINCT fp FROM standing)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_delta,
           CAST(COUNT(*) FILTER (WHERE fp IN (SELECT fp FROM keys)) AS BIGINT)
               AS n_dup_exact,
           TRUE AS no_false_negatives,
           TRUE AS fp_rate_bounded
    FROM delta
    """,
)
def dedup_bloom_gate(spark, sf_dir):
    """Bloom-prefiltered incremental dedup gate — the front door of the
    100-TB ingest path: before a delta batch pays the
    ``dedup_incremental_index`` join against the standing corpus index, a
    16-KiB Bloom filter built from the standing fingerprints answers
    "definitely new" MAP-SIDE, so only gate survivors (true dups + a
    bounded trickle of false positives) reach the exact join's shuffle.
    Differs from ``bloom_semijoin_lineitem`` (generic join reduction on
    TPC-H keys) by composing with the dedup standing index and VERIFYING
    the filter's contract in-query, the bounds-oracle doctrine:

      * ``no_false_negatives`` — every exact duplicate also passed the
        gate (gate AND exact == exact: the one-sidedness that makes
        bloom-then-join ≡ join); re-keyed copies of standing docs are
        planted into the delta so the claim is exercised, not vacuous;
      * ``fp_rate_bounded`` — non-duplicate gate passes stay under 5x the
        theoretical (1 - e^(-kn/m))^k rate (+ small-sample slack).

    The gate flags are engine-specific (xxhash64), so only the portable
    counts and the verified booleans are emitted; DuckDB recomputes the
    exact counts and asserts both claims literally TRUE.  The collected
    word array is a bounded artifact (2048 int64s regardless of corpus
    size — the PQ-codebook class), and the flag evaluation is one
    codegen'd projection over the delta scan: no shuffle until the
    survivors' join."""
    from airflow_cms_inpatient_etl_spark.operators.bloom import (
        bloom_build,
        bloom_flag,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    docs = d.select("doc_id", F.md5("text").alias("fp"))
    standing = docs.filter(F.col("doc_id") % 5 != 0)
    standing = snapshot(standing)  # feeds planted copies, keys, and the filter
    delta = docs.filter(F.col("doc_id") % 5 == 0).unionByName(
        standing.filter(F.col("doc_id") % 37 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "fp"
        )
    )
    keys = standing.select("fp").distinct()
    keys = snapshot(keys)  # filter build + exact join + n_keys all read it

    words = bloom_build(keys, "fp", _BG_BITS, _BG_HASHES)
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_keys"))

    flagged = bloom_flag(delta, "fp", words, "gate_pass", _BG_BITS, _BG_HASHES).join(
        keys.withColumn("in_standing", F.lit(1)), "fp", "left"
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_delta"),
        F.coalesce(F.sum("in_standing"), F.lit(0)).alias("n_dup_exact"),
        F.coalesce(
            F.sum(F.when(F.col("gate_pass") & F.col("in_standing").isNotNull(), 1)), F.lit(0)
        ).alias("n_pass_dup"),
        F.coalesce(
            F.sum(F.when(F.col("gate_pass") & F.col("in_standing").isNull(), 1)), F.lit(0)
        ).alias("n_fp"),
    )
    p_theory = F.pow(
        F.lit(1.0) - F.exp(-F.lit(float(_BG_HASHES)) * F.col("n_keys") / F.lit(float(_BG_BITS))),
        F.lit(float(_BG_HASHES)),
    )
    return agg.crossJoin(F.broadcast(n_keys)).select(
        F.col("n_delta").cast("long").alias("n_delta"),
        F.col("n_dup_exact").cast("long").alias("n_dup_exact"),
        (F.col("n_pass_dup") == F.col("n_dup_exact")).alias("no_false_negatives"),
        (
            F.col("n_fp").cast("double")
            <= F.greatest(
                F.lit(10.0),
                F.lit(5.0) * p_theory * (F.col("n_delta") - F.col("n_dup_exact")).cast("double"),
            )
        ).alias("fp_rate_bounded"),
    )


# --------------------------------------------------------------------------- #
# decontaminate_span_excision — GPT-3-style surgical eval decontamination      #
# --------------------------------------------------------------------------- #


@register(
    "decontaminate_span_excision",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               CAST('0x' || SUBSTR(MD5(ARRAY_TO_STRING(
                   LIST_SLICE(w, i, i + {_SPAN_K} - 1), ' ')), 1, 15) AS BIGINT) AS h
        FROM toks, UNNEST(RANGE(1, GREATEST(LEN(w) - {_SPAN_K} + 2, 1))) AS t(i)
    ),
    eval_grams AS (SELECT DISTINCT h FROM grams WHERE doc_id < 50),
    dstarts AS (
        SELECT g.doc_id, g.i FROM grams g JOIN eval_grams USING (h)
        WHERE g.doc_id >= 50
    ),
    isl AS (
        SELECT doc_id, i,
               SUM(CASE WHEN prev_i IS NULL OR i > prev_i + {_SPAN_K}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM (SELECT doc_id, i,
                     LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
              FROM dstarts)
    ),
    spans AS (
        SELECT doc_id, MIN(i) AS s, MAX(i) + {_SPAN_K} - 1 AS e
        FROM isl GROUP BY doc_id, island
        HAVING MAX(i) + {_SPAN_K} - MIN(i) >= {_SPAN_L}
    ),
    removed_pos AS (
        SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p
        FROM spans, UNNEST(RANGE(s, e + 1)) AS t(p)
    ),
    tokpos AS (
        SELECT doc_id, CAST(j AS BIGINT) AS j, w[j] AS tok
        FROM toks, UNNEST(RANGE(1, LEN(w) + 1)) AS t(j)
        WHERE doc_id >= 50
    ),
    rebuilt AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE r.p IS NOT NULL) AS BIGINT)
                   AS n_tokens_removed,
               COALESCE(STRING_AGG(t.tok, ' ' ORDER BY t.j)
                            FILTER (WHERE r.p IS NULL), '') AS decontam_text
        FROM tokpos t
        LEFT JOIN removed_pos r ON t.doc_id = r.doc_id AND t.j = r.p
        GROUP BY t.doc_id
    ),
    nsp AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_removed
        FROM spans GROUP BY doc_id
    )
    SELECT r.doc_id, r.n_tokens,
           COALESCE(n.n_spans_removed, CAST(0 AS BIGINT)) AS n_spans_removed,
           r.n_tokens_removed, r.decontam_text
    FROM rebuilt r LEFT JOIN nsp n USING (doc_id)
    """,
)
def decontaminate_span_excision(spark, sf_dir):
    """GPT-3-style decontamination by EXCISION (Brown et al. 2020 App. C)
    — the surgical completion of the decontamination pair:
    ``decontaminate_ngram_overlap`` FLAGS a train document on any eval
    n-gram collision (doc-level routing); this query CUTS the verbatim
    overlap runs out and keeps the rest of the document.  Any run of
    >= {_SPAN_L} train tokens whose every {_SPAN_K}-token anchor also
    occurs in the held-out eval set (doc_id < 50, the
    ``decontaminate_ngram_overlap`` split) is removed from the train doc
    (doc_id >= 50), which is reassembled around the holes
    (`operators.dedup.span_excision_against` — the eval-membership twin
    of ``cross_doc_span_dedup``, sharing `gram_starts`/`excise_runs` so
    the two excision passes cannot drift).

    The oracle recomputes the whole pipeline independently in DuckDB
    (window islands + position anti-join rebuild vs Spark's lag islands +
    HOF rebuild) including the reassembled text.  Scale: the eval gram
    set is |eval|-sized and broadcast (eval ≪ corpus at 100 TB); train
    grams are map-side; the rebuild is the family's corpus-linear
    doc-keyed floor."""
    from airflow_cms_inpatient_etl_spark.operators.dedup import span_excision_against

    d = load_table(spark, sf_dir, "documents")
    return span_excision_against(
        d.filter(F.col("doc_id") >= 50),
        d.filter(F.col("doc_id") < 50),
        k=_SPAN_K,
        min_len=_SPAN_L,
    )
