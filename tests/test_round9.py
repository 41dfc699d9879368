"""Round-9 additions: curation-v7 exchange-payload contract, plus fixtures
for the round's new operators (cross-document exact-substring dedup,
image-text alignment)."""

from __future__ import annotations

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
from tests.conftest import SF_SMOKE


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _plan_blocks(plan: str) -> list[str]:
    """Split a formatted explain into per-node detail blocks."""
    return plan.split("\n\n")


def test_curation_v7_dedup_exchange_carries_no_payload(spark):
    """The v6 exchange contract: document payload never rides a shuffle.
    v7's exact-dedup window must partition on a MATERIALIZED md5 key —
    the exchange feeding the row_number window carries (doc_id, dedup_key,
    ntok) only, never the cleaned text.  (The doc-rebuild aggregate
    upstream necessarily moves line payloads once, doc-keyed; that is the
    documented corpus-linear floor, not this contract.)"""
    df = QUERY_REGISTRY["corpus_curation_v7"].fn(spark, SF_SMOKE)
    plan = _formatted(df)
    dedup_blocks = [
        b
        for b in _plan_blocks(plan)
        if b.strip() and "Exchange" in b.strip().splitlines()[0]
        and "hashpartitioning(dedup_key" in b
    ]
    assert dedup_blocks, "expected an exchange hash-partitioned on dedup_key"
    for b in dedup_blocks:
        assert "dedup_text" not in b, f"payload rides the dedup exchange:\n{b}"


# --------------------------------------------------------------------------- #
# dedup_cross_doc_spans — crafted quote-vs-short-overlap fixture               #
# --------------------------------------------------------------------------- #

from pyspark.sql import functions as F  # noqa: E402

from airflow_cms_inpatient_etl_spark.operators.dedup import (  # noqa: E402
    SPAN_ANCHOR_K,
    SPAN_MIN_LEN,
    cross_doc_span_dedup,
    span_dup_starts,
)
from airflow_cms_inpatient_etl_spark.operators.text import words  # noqa: E402

# a 20-token passage shared verbatim by docs 1 and 2 at DIFFERENT offsets
_QUOTE = " ".join(f"q{i}" for i in range(20))
# a 6-token overlap (>= K anchors exist, < L so it must SURVIVE)
_SHORT = " ".join(f"s{i}" for i in range(6))


def _span_fixture(spark):
    rows = [
        # quote at offset 0 (doc 1) and offset 3 (doc 2): anchors align by
        # content, not position
        (1, f"{_QUOTE} u1a u1b u1c u1d"),
        (2, f"v2a v2b v2c {_QUOTE} v2d"),
        # 6-token shared run: anchored (6 >= K) but below the removal
        # threshold (6 < L) — kept in both docs
        (3, f"w3a w3b {_SHORT} w3c w3d w3e w3f"),
        (4, f"{_SHORT} x4a x4b x4c x4d x4e x4f"),
        # internal repetition only (same 14-token phrase twice in ONE doc):
        # cross-doc df stays 1, nothing removed
        (5, " ".join(f"r{i}" for i in range(14)) + " mid "
            + " ".join(f"r{i}" for i in range(14))),
        # no overlap with anyone
        (6, "z6a z6b z6c z6d z6e z6f z6g z6h"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_span_dedup_quote_removed_short_overlap_kept(spark):
    assert SPAN_ANCHOR_K == 5 and SPAN_MIN_LEN == 12  # fixture calibration
    out = {
        r["doc_id"]: r
        for r in cross_doc_span_dedup(_span_fixture(spark), "doc_id", "text").collect()
    }
    assert len(out) == 6  # one row per doc, including untouched ones
    # the 20-token quote is dropped from BOTH carriers, unique context kept
    for doc, expect_text in [(1, "u1a u1b u1c u1d"), (2, "v2a v2b v2c v2d")]:
        assert out[doc]["n_spans_removed"] == 1
        assert out[doc]["n_tokens_removed"] == 20
        assert out[doc]["dedup_text"] == expect_text
    # the 6-token overlap is anchored but below L: fully kept
    for doc in (3, 4):
        assert out[doc]["n_spans_removed"] == 0
        assert out[doc]["n_tokens_removed"] == 0
    assert out[3]["dedup_text"] == f"w3a w3b {_SHORT} w3c w3d w3e w3f"
    # within-doc repetition is NOT cross-document duplication
    assert out[5]["n_tokens_removed"] == 0
    # untouched doc is identity
    assert out[6]["dedup_text"] == "z6a z6b z6c z6d z6e z6f z6g z6h"
    assert out[6]["n_tokens"] == 8


def test_span_dedup_candidate_volume_scales_linearly(spark):
    """10× canary on CANDIDATE volume: replicate the corpus 10× under a
    letter rotation (replicas are internally self-similar but mutually
    distinct — the sf1 fixture's construction), and require duplicated-start
    volume to stay LINEAR: each replica reproduces the base duplication
    pattern under its rotated alphabet, so dup starts must be ~10× the
    base, never pair-quadratic.  Upper slack covers cross-replica
    collisions of rotation-invariant tokens (digits/punctuation-only
    grams); the floor is exact (rotation is a bijection on texts, so every
    base dup start recurs in every replica)."""
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    alpha = "abcdefghij"
    reps = None
    for i in range(10):
        part = base.select(
            (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
            F.translate("text", alpha, alpha[i:] + alpha[:i]).alias("text"),
        )
        reps = part if reps is None else reps.unionByName(part)

    def n_candidates(df):
        t = df.select("doc_id", words(F.col("text")).alias("__w"))
        return span_dup_starts(t, "doc_id", SPAN_ANCHOR_K).count()

    c1 = n_candidates(base)
    c10 = n_candidates(reps)
    assert c1 > 0, "fixture corpus has no duplicated anchors — canary is vacuous"
    assert c10 >= 10 * c1, "rotation bijection floor broke"
    assert c10 <= 11 * c1, (
        f"candidate volume superlinear: {c1} -> {c10} (pair enumeration?)"
    )


# --------------------------------------------------------------------------- #
# multimodal_caption_align — gate semantics on the fixtures                    #
# --------------------------------------------------------------------------- #

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY as _REG  # noqa: E402
from tests.conftest import SF_ORACLE  # noqa: E402


def test_caption_align_gate_separates_engineered_mismatches(spark):
    """Every 10th image is deliberately mis-captioned with its neighbour's
    caption; aligned pairs score 10000 bp exactly (the caption is a verbatim
    excerpt of the image content, so every caption shingle is contained),
    and the two populations must separate cleanly at the gate."""
    out = _REG["multimodal_caption_align"].fn(spark, SF_ORACLE).toPandas()
    matched = out[out.doc_id == out.caption_doc]
    mismatched = out[out.doc_id != out.caption_doc]
    assert len(mismatched) > 0 and len(matched) > 0
    assert (matched.align_bp == 10000).all(), "verbatim captions must contain fully"
    assert matched.is_aligned.all()
    # mismatched captions share no 3-token sequence with the image content
    # in this synthetic corpus — if the corpus ever gains cross-doc verbatim
    # overlap inside the first 12 tokens, the gate (not exact zero) is the
    # contract
    assert not mismatched.is_aligned.any(), "gate failed to reject a mis-caption"


# --------------------------------------------------------------------------- #
# Tracked multi-consumer snapshots (sources.registry.snapshot)                 #
# --------------------------------------------------------------------------- #


def test_snapshot_release_is_deterministic_and_complete(spark):
    """Queries that snapshot an expensive intermediate (LSH posting lists,
    band tables, per-doc score tables, PageRank's edge/node tables) must
    leave NO surviving executor storage and an EMPTY CacheManager after
    release_snapshots alone — immediately, with no GC poll and no
    clearCache.  The tracked snapshot is the engine's only pin: persist/cache
    pinned one CacheManager entry per call forever AND silently served
    repeated invocations from the warm cache (it faked the round-8 bench
    number for multimodal_phash_neardup)."""
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    sc = spark.sparkContext
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    release_snapshots(spark)  # isolate from earlier tests in the session
    spark.catalog.clearCache()
    baseline = len(sc._jsc.sc().getRDDStorageInfo())
    for name in (
        "dedup_minhash_lsh",
        "basket_association_rules",
        "corpus_curation_v4",
        "graph_pagerank",
        "graph_personalized_pagerank",
        "text_textrank_keywords",
        "crawl_linkgraph_pagerank",
        "dedup_cluster_canonical",
    ):
        n1 = QUERY_REGISTRY[name].fn(spark, SF_SMOKE).count()
        assert n1 > 0, name
        assert len(sc._jsc.sc().getRDDStorageInfo()) > baseline, (
            f"{name}: expected the snapshot blocks to be pinned after the action"
        )
        released = release_snapshots(spark)
        assert released > 0, name
        assert len(sc._jsc.sc().getRDDStorageInfo()) <= baseline, (
            f"{name}: snapshot blocks survived release_snapshots"
        )
        assert cache_manager.isEmpty(), f"{name}: left a CacheManager entry"
        # a fresh invocation after release recomputes and matches (no stale
        # reuse, no lineage loss)
        assert QUERY_REGISTRY[name].fn(spark, SF_SMOKE).count() == n1, name
        release_snapshots(spark)


# --------------------------------------------------------------------------- #
# corpus_ngram_novelty                                                         #
# --------------------------------------------------------------------------- #


def test_ngram_novelty_invariants(spark):
    """Each distinct gram hash is novel in EXACTLY one document (its min
    doc_id), so Σ n_novel over documents equals the corpus's distinct-gram
    count; the earliest document is all-novel by construction; ppm is
    integer-exact in [0, 1e6]."""
    from airflow_cms_inpatient_etl_spark.operators.text import exploded_shingle_hashes
    from airflow_cms_inpatient_etl_spark.sources.registry import load_table

    from pyspark.sql import functions as F

    res = QUERY_REGISTRY["corpus_ngram_novelty"].fn(spark, SF_SMOKE)
    agg = res.agg(
        F.sum("n_novel").alias("novel_total"),
        F.min("novelty_ppm").alias("lo"),
        F.max("novelty_ppm").alias("hi"),
        F.min("doc_id").alias("first_doc"),
    ).first()
    d = load_table(spark, SF_SMOKE, "documents")
    n_distinct_grams = (
        exploded_shingle_hashes(d, "doc_id", "text").select("h").distinct().count()
    )
    assert agg.novel_total == n_distinct_grams
    assert 0 <= agg.lo <= agg.hi <= 1_000_000
    first = res.filter(F.col("doc_id") == agg.first_doc).first()
    assert first.novelty_ppm == 1_000_000, "earliest document must be all-novel"


# --------------------------------------------------------------------------- #
# decontaminate_embedding_cosine                                               #
# --------------------------------------------------------------------------- #


def test_embedding_decontamination_recovers_planted_set_exactly(spark):
    """The flag set must equal the planted-leakage set: every planted train
    vector (an exact copy of a rank-indexed eval vector) scores ~1.0 and is
    flagged; no natural pair in the fixture comes near the 0.95 gate (max
    natural cross-split cosine ~0.49), so false positives are zero."""
    from pyspark.sql import functions as F

    res = QUERY_REGISTRY["decontaminate_embedding_cosine"].fn(spark, SF_SMOKE)
    agg = res.agg(
        F.count_if(F.col("planted") & ~F.col("is_contaminated")).alias("missed"),
        F.count_if(~F.col("planted") & F.col("is_contaminated")).alias("false_pos"),
        F.count_if("planted").alias("n_planted"),
        F.min(F.when(F.col("planted"), F.col("max_cosine"))).alias("planted_min_cos"),
        F.max(F.when(~F.col("planted"), F.col("max_cosine"))).alias("natural_max_cos"),
    ).first()
    assert agg.n_planted > 0
    assert agg.missed == 0, "planted leakage escaped the gate"
    assert agg.false_pos == 0, "natural vectors misflagged"
    assert agg.planted_min_cos > 0.999
    assert agg.natural_max_cos < 0.6


def test_embedding_decontamination_train_side_never_shuffles_wide(spark):
    """Scale contract: the eval side broadcasts, so no train-sized row set
    rides an exchange — every non-broadcast exchange in the plan must be
    either the (tiny) eval-side rank/count exchange or the post-partial-agg
    exchange that carries one row per train vector (hashpartitioning on
    vec_id), never the scored |train| x |eval| expansion."""
    df = QUERY_REGISTRY["decontaminate_embedding_cosine"].fn(spark, SF_SMOKE)
    plan = _formatted(df)
    for b in _plan_blocks(plan):
        head = b.strip().splitlines()[0] if b.strip() else ""
        if head.startswith("(") and "Exchange" in head and "Broadcast" not in head:
            assert (
                "hashpartitioning(vec_id" in b
                or "SinglePartition" in b  # the 10%-sized eval rank window
                or "rows_only" in b
            ), f"unexpected wide exchange:\n{b}"


def test_mixed_language_gate_fires_only_on_planted_code_switch(spark):
    """The planted Spanish block makes a doc mixed IFF its base chunks
    identify a language (an all-'und' base gains es as its ONLY identified
    language — one language is not mixed); nothing unplanted ever flags on
    the per-chunk-monolingual fixture."""
    from pyspark.sql import functions as F

    res = QUERY_REGISTRY["text_mixed_language_flag"].fn(spark, SF_SMOKE)
    g = res.agg(
        F.count_if(F.col("is_mixed") & ~F.col("planted")).alias("false_pos"),
        F.count_if(F.col("is_mixed")).alias("n_mixed"),
        F.count_if(F.col("planted")).alias("n_planted"),
        F.count_if(
            F.col("planted") & (F.col("n_langs") >= 2) & ~F.col("is_mixed")
        ).alias("missed"),
    ).first()
    assert g.false_pos == 0
    assert g.missed == 0
    assert 0 < g.n_mixed <= g.n_planted
    # every planted doc has at least ONE identified language (the es block)
    assert res.filter(F.col("planted") & (F.col("n_langs") == 0)).count() == 0
