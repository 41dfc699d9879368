"""Repo-wide physical-plan lint: EVERY registered query's plan is swept for
the three scale killers — non-broadcast cartesian products, Python
evaluation stages, and SINGLE-PARTITION WINDOWS — so a regression anywhere
in the registry (every entry is swept; the failure message reports the live
count) fails CI by name, not by a slow bench three rounds later.

Allowed Python stages are exactly the documented Arrow-batched multimodal
decode paths (the image/audio libs are stubbed, but the mapInPandas plumbing
is the real contract).  Row-at-a-time BatchEvalPython is allowed NOWHERE.

The window rule (added round 15, generalizing the round-14 verdict's
`orders_pareto_skyline` finding into an invariant): a window spec with no
partition keys — ordered (``OVER (ORDER BY ...)``) or orderless global
(``OVER ()``) — moves its ENTIRE input through one task, the canonical
100 TB bottleneck.  Every allowed occurrence is enumerated in
``_GLOBAL_WINDOW_OK`` with the reason its input is bounded (limit-K rank
windows, calendar/bucket/histogram grains, dimension-sized structures, and
the two documented ANSI-semantics demos); a whitelisted query whose plan no
longer carries one fails too, so the list cannot go stale.  Fact-grain
global windows are FIXED, not listed — `customer_rfm_segments` (reworked
round 15 to the sharded-rank NTILE decomposition), `orders_pareto_skyline`
(round 15, sharded prefix-min), `customer_pareto_class` /
`global_rank_via_sharding` / `quality_quantile_normalize` (rank-decomposed
at birth; their listed windows run over their own bounded histogram/bucket
stages).

Two gates: the full registry sweep is ``slow`` (round-gate only); the
NOT-slow variant lints just the queries added or materially changed since
the last green round gate (``_NEW_SINCE_GATE``), so a cartesian or
Python-eval regression in fresh code surfaces in the inner loop, not three
days later at the gate.  Rotate ``_NEW_SINCE_GATE`` each round: after the
gate goes green, replace its contents with the next round's additions.
"""

from __future__ import annotations

import pytest

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
from tests.conftest import SF_SMOKE

# live-streaming queries execute real micro-batch jobs at construction time;
# tests/test_streaming.py::test_live_query_plan_has_its_stateful_operator
# asserts the drained plans of the session-window, sliding-window and
# dedup-within-watermark queries, the other live queries are oracle-checked
# only
_SKIP = {n for n in QUERY_REGISTRY if n.endswith("_live")}

# the ONLY queries allowed to cross into Python, all Arrow-batched
_ARROW_WHITELIST = {
    "multimodal_decode_stub",
    "multimodal_frame_sample",
    "dq_group_checksum_udaf",
    "text_wordcount_udtf",
}

_ARROW_NODES = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowAggregatePython",
)

# Queries allowed to carry a no-partition-key window, each with the reason
# its window INPUT is bounded (not the fact/corpus grain).  Audited round 15.
_GLOBAL_WINDOW_OK = {
    # ---- limit-K-bounded rank windows (TakeOrderedAndProject feeds them) --- #
    "quality_dsir_importance": "rank window runs over the limit-K gumbel top-k",
    "weighted_corpus_sample": "rank window runs over the limit-K race winners",
    "text_bm25_search": "rank window runs over the limit-K result page",
    "text_textrank_keywords": "rank window runs over the limit-K keyword list",
    "search_hybrid_rrf": "both legs rank their limit-K result pages",
    # ---- calendar / bucket / type-combination grains ----------------------- #
    "events_stl_daily": "calendar (day) grain",
    "orders_mom_growth": "calendar (month) grain",
    "window_sliding_distinct_users": "calendar-bounded 5-min position axis",
    "events_dow_seasonality": "day-of-week grain (7 rows)",
    "dq_benford_first_digit": "leading-digit grain (9 rows)",
    "events_path_trigrams": "event-type-trigram grain (<= |types|^3)",
    "bpe_merge_candidates": "adjacent-symbol-pair grain (<= alphabet^2)",
    "customer_repurchase_intervals": "bounded interval-bucket share window",
    # ---- distinct-value histogram / decomposition-internal stages ---------- #
    "quality_quantile_normalize": "value-cardinality histogram of its own rank decomposition",
    "corpus_range_shards": "value-cardinality histogram (exact boundary machinery)",
    "corpus_curation_v5": "value-cardinality histogram (range-shard stage)",
    "global_rank_via_sharding": "value-cardinality histogram (its own boundary stage)",
    "customer_pareto_class": "bounded bucket table of its own rank decomposition",
    "layout_zorder_locality": "quantized-cell histogram (<= buckets^2 keys)",
    "layout_hilbert_locality": "quantized-cell histogram (<= buckets^2 keys)",
    "sketch_qdigest_quantiles": "dyadic-tree node grain",
    # ---- dimension-sized structures --------------------------------------- #
    "contribution_pct_of_total": "region/nation dimension grain",
    "crawl_frontier_schedule": "domain-grain frontier (docstring's bounded-structure exemption)",
    "labels_bradley_terry_mm": "compared-item grain",
    "decontaminate_embedding_cosine": "fixed eval-benchmark grain",
    "recsys_negative_samples": "item catalog; broadcast downstream, so dim-bounded by construction",
    # ---- documented ANSI-semantics demos (scale path = sharded-rank identity,
    # shipped by customer_rfm_segments / global_rank_via_sharding) ----------- #
    "window_ntile_percent_rank": "ANSI global-window demo over the customer dim",
    "window_cume_dist_nth": "ANSI global-window demo over the supplier dim",
}


def _global_window_specs(plan: str) -> int:
    """Count window specs with no partition keys in a plan string: the first
    windowspecdefinition argument is either an ORDER entry (``col ASC/DESC
    NULLS ...``) or, for orderless global windows, the frame itself."""
    import re

    n = 0
    for args in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        first = args.split(",")[0].strip()
        if " ASC" in first or " DESC" in first or first.startswith("specifiedwindowframe"):
            n += 1
    return n

# queries added or plan-changed since the round-14 gate went green — linted
# in the NOT-slow inner loop.
_NEW_SINCE_GATE = [
    # r15: code-changed — true equal-price dominance + sharded prefix-min
    # (the round-14 weak finding's fix; no fact-sized single-partition window)
    "orders_pareto_skyline",
    # r15: code-changed — NTILE x3 via the sharded-rank decomposition (the
    # customer-grain single-partition windows are gone; lint now enforces it)
    "customer_rfm_segments",
    # r15: new — cell-bucketed block-nested-loop dominance join in 3-D
    "orders_pareto_skyline_3d",
    # r15: new — ER composition: banded blocking / scoring / components /
    # survivorship
    "er_blocking_pairs",
    "er_resolve_customers",
    # r15: new — planted-hotspot proximity joins through the two remedies
    "geo_hotspot_salted_join",
    "geo_quadtree_refined_join",
    # (streaming_asof_live is new too, but live streams are plan-asserted in
    # tests/test_streaming.py / test_round15.py — see _SKIP)
    # code-changed — rebuilt from the shared curation stages (hash60,
    # top_k_per_group, exact_range_shards, temperature_mixture,
    # keep_first_by_key and the pipeline/quality/crawl stage helpers)
    "split_train_test_hash",
    "sample_language_rebalance",
    "pack_token_budget",
    "docs_source_cap",
    "corpus_curation_v2",
    "corpus_curation_v6",
    "decontaminate_embedding_cosine",
    "text_rolling_hash",
    "corpus_curation_v3",
    "deterministic_sample",
    "dq_group_checksum_udaf",
    "recsys_negative_samples",
    "split_cluster_aware",
    "stratified_sample_exact_k",
    "corpus_range_shards",
    "corpus_curation_v5",
    "layout_zorder_locality",
    "layout_hilbert_locality",
    "corpus_mixture_plan",
    "corpus_mixture_refresh",
    "corpus_curation_v8",
    "quality_lm_perplexity",
    "corpus_curation_v4",
    "quality_linear_score",
    "corpus_curation_pipeline",
    "text_html_strip_c4",
    "corpus_curation_v9",
    "corpus_curation_v7",
    # code-changed — persist pins replaced by registry snapshots
    "graph_pagerank",
    "graph_personalized_pagerank",
    "text_textrank_keywords",
    "crawl_linkgraph_pagerank",
    "dedup_cluster_canonical",
]


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _lint(spark, names):
    # Building snapshot-using queries pins localCheckpoint blocks (under AQE
    # the subtree's shuffle stages run at construction); release them
    # afterward so the lint is storage-neutral for the rest of the pytest
    # session.
    from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots

    violations = []
    try:
        for name in names:
            if name in _SKIP:
                continue
            df = QUERY_REGISTRY[name].fn(spark, SF_SMOKE)
            plan = _formatted(df)
            if "CartesianProduct" in plan:
                violations.append(f"{name}: CartesianProduct")
            if "BatchEvalPython" in plan:
                violations.append(f"{name}: row-at-a-time Python UDF")
            arrow = [n for n in _ARROW_NODES if n in plan]
            if arrow and name not in _ARROW_WHITELIST:
                violations.append(f"{name}: unexpected Python stage {arrow}")
            if name in _ARROW_WHITELIST and not arrow:
                violations.append(f"{name}: whitelist entry no longer uses Arrow — prune it")
            simple = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "simple"
            )
            gw = _global_window_specs(simple)
            if gw and name not in _GLOBAL_WINDOW_OK:
                violations.append(
                    f"{name}: {gw} single-partition window spec(s) — decompose "
                    f"(sharded-rank identity) or justify in _GLOBAL_WINDOW_OK"
                )
            if not gw and name in _GLOBAL_WINDOW_OK:
                violations.append(
                    f"{name}: _GLOBAL_WINDOW_OK entry no longer matches a "
                    f"global window — prune it"
                )
    finally:
        release_snapshots(spark)
    return violations


def test_new_queries_plan_lint(spark):
    """Inner-loop lint of queries added/changed since the last green gate."""
    stale = [n for n in _NEW_SINCE_GATE if n not in QUERY_REGISTRY]
    assert not stale, f"_NEW_SINCE_GATE names not in registry: {stale}"
    assert len(set(_NEW_SINCE_GATE)) == len(_NEW_SINCE_GATE), (
        "_NEW_SINCE_GATE has duplicates — each entry is linted once; "
        "a repeat is a stale rotation artifact"
    )
    violations = _lint(spark, _NEW_SINCE_GATE)
    assert not violations, (
        f"plan lint over {len(_NEW_SINCE_GATE)} since-gate queries:\n"
        + "\n".join(violations)
    )


@pytest.mark.slow
def test_no_cartesian_and_no_python_outside_whitelist(spark):
    violations = _lint(spark, list(QUERY_REGISTRY))
    assert not violations, (
        f"plan lint over {len(QUERY_REGISTRY)} registered queries "
        f"({len(_SKIP)} live-streaming skips):\n" + "\n".join(violations)
    )
