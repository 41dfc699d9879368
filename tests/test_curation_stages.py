"""The shared curation stages: edge cases of the two generic ones against
plain-Python references, oracle coverage of every query built from the
shared stages, and the registry import under ``python -OO``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

from airflow_cms_inpatient_etl_spark.operators.layout import exact_range_shards
from airflow_cms_inpatient_etl_spark.operators.stages import TOPK_SHARDS, top_k_per_group
from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
from airflow_cms_inpatient_etl_spark.sources.registry import TESTDATA_TABLES
from tests.conftest import SF_SMOKE, run_differential

# --------------------------------------------------------------------------- #
# exact_range_shards                                                           #
# --------------------------------------------------------------------------- #


def _range_shards_ref(values: list[int], k: int) -> list[int]:
    """boundary_i = min v with cum(v) >= ceil(i·n/k); shard = 1 + #(b_i < v)."""
    n = len(values)
    cum = {v: sum(x <= v for x in values) for v in set(values)}
    bounds = [min(v for v in cum if cum[v] >= -(-i * n // k)) for i in range(1, k)]
    return [1 + sum(b < v for b in bounds) for v in values]


@pytest.mark.parametrize(
    "values,k",
    [
        ([5, 5, 5, 7, 7, 9], 8),  # fewer distinct values than shards
        ([3] * 10, 4),  # all values equal
        ([1, 2, 3], 8),  # fewer rows than shards
        ([1, 2, 2, 2, 3, 4, 5, 6], 4),  # boundaries fall inside a run of ties
        ([4, 4, 1, 1, 2, 2, 3, 3], 4),  # ceil(i·n/k) lands exactly on run ends
        ([(i * 7919) % 31 for i in range(200)], 8),
    ],
)
def test_exact_range_shards_matches_reference(spark, values, k):
    df = spark.createDataFrame(list(enumerate(values)), "id long, v long")
    got = {r["id"]: r["shard_id"] for r in exact_range_shards(df, "v", k).collect()}
    assert [got[i] for i in range(len(values))] == _range_shards_ref(values, k)


# --------------------------------------------------------------------------- #
# top_k_per_group                                                              #
# --------------------------------------------------------------------------- #


def _top_k_ref(rows, k):
    """Naive single window: sort each group by (score, id), keep ranks <= k."""
    out = {}
    for g in sorted({r[0] for r in rows}):
        ranked = sorted((s, i) for gg, s, i in rows if gg == g)[:k]
        for rank, (s, i) in enumerate(ranked, 1):
            out[(g, i)] = (s, rank)
    return out


def test_top_k_hot_group_with_ties(spark):
    k = 3
    hot = [("hot", i % 5, i) for i in range(TOPK_SHARDS * k * 4)]  # > shards·K rows
    small = [("small", 9 - i, 100 + i) for i in range(2)]  # fewer rows than K
    rows = hot + small
    df = spark.createDataFrame(rows, "g string, score long, id long")
    got = {
        (r["g"], r["id"]): (r["score"], r["rn"])
        for r in top_k_per_group(df, "g", ["score", "id"], k).collect()
    }
    assert got == _top_k_ref(rows, k)


def test_top_k_full_ties_keep_the_naive_multiset(spark):
    """With ties in the WHOLE order key the row choice is arbitrary in both
    forms, but the kept order-key values and the ranks are not."""
    k = 5
    rows = [("g", i % 3, i) for i in range(TOPK_SHARDS * k * 2)]
    df = spark.createDataFrame(rows, "g string, score long, id long")
    got = top_k_per_group(df, "g", ["score"], k).collect()
    assert sorted(r["score"] for r in got) == sorted(r[1] for r in rows)[:k]
    assert sorted(r["rn"] for r in got) == list(range(1, k + 1))


# --------------------------------------------------------------------------- #
# oracle coverage of the queries composed from the shared stages               #
# --------------------------------------------------------------------------- #

# every query whose code path calls a shared stage (hash60, top_k_per_group,
# exact_range_shards, temperature_mixture, keep_first_by_key, or a stage
# helper of pipeline/quality/crawl); sf0.01 runs in the registry-wide
# differential
SHARED_STAGE_QUERIES = [
    "split_train_test_hash",
    "sample_language_rebalance",
    "pack_token_budget",
    "docs_source_cap",
    "stratified_sample_exact_k",
    "corpus_curation_pipeline",
    "corpus_curation_v2",
    "corpus_curation_v3",
    "corpus_curation_v4",
    "corpus_curation_v5",
    "corpus_curation_v6",
    "corpus_curation_v7",
    "corpus_curation_v8",
    "corpus_curation_v9",
    "corpus_range_shards",
    "layout_zorder_locality",
    "layout_hilbert_locality",
    "corpus_mixture_plan",
    "corpus_mixture_refresh",
    "quality_lm_perplexity",
    "quality_linear_score",
    "text_html_strip_c4",
    "decontaminate_embedding_cosine",
    "text_rolling_hash",
    "deterministic_sample",
    "dq_group_checksum_udaf",
    "recsys_negative_samples",
    "split_cluster_aware",
]


@pytest.mark.parametrize("name", SHARED_STAGE_QUERIES)
@pytest.mark.parametrize(
    "sf_dir",
    [
        SF_SMOKE,
        pytest.param(os.path.join(os.path.dirname(SF_SMOKE), "sf0.1"), marks=pytest.mark.slow),
    ],
)
def test_shared_stage_queries_oracle(spark, sf_dir, name):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spec = QUERY_REGISTRY[name]
    run_differential(spark, con, name, spec.fn, spec.oracle, sf_dir)


# --------------------------------------------------------------------------- #
# python -OO                                                                   #
# --------------------------------------------------------------------------- #


def test_registry_imports_under_optimize_2():
    """``python -OO`` strips docstrings; the post-hoc docstring fills must not
    break the import, and the registry must hold the same names in order."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json; from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY; "
        "print(json.dumps(list(QUERY_REGISTRY)))"
    )
    env = dict(os.environ, PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-OO", "-c", code], cwd=root, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1]) == list(QUERY_REGISTRY)
