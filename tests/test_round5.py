"""Round-5 operator properties: CMS mergeability/guarantees, integer-PageRank
determinism and mass accounting, SemDeDup blocking soundness, chunk coverage,
weighted-sample stability, entropy semantics, and the plan shapes that make
each op scale (map-side entropy/chunking, broadcast-only cartesians)."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.graph import pagerank_integer
from airflow_cms_inpatient_etl_spark.operators.sketch import cms_build, cms_estimate, cms_merge
from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
from airflow_cms_inpatient_etl_spark.sources.registry import load_table
from tests.conftest import SF_ORACLE

# --------------------------------------------------------------------------- #
# count-min sketch                                                             #
# --------------------------------------------------------------------------- #


def test_cms_never_undercounts_and_merges(spark):
    ev = load_table(spark, SF_ORACLE, "events").select(
        F.get_json_object("props", "$.k").cast("long").alias("item")
    )
    exact = {r["item"]: r["c"] for r in ev.groupBy("item").agg(F.count(F.lit(1)).alias("c")).collect()}

    full = cms_build(ev, "item")
    est = {
        r["item"]: r["cms_estimate"]
        for r in cms_estimate(ev, full, "item").collect()
    }
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert est[k] >= v, f"CMS undercounted item {k}"

    # mergeability: sketch(halves merged) == sketch(whole), cell for cell
    lo = cms_build(ev.filter(F.col("item") < 50), "item")
    hi = cms_build(ev.filter(F.col("item") >= 50), "item")
    merged = {(r["row"], r["col"]): r["cnt"] for r in cms_merge(lo, hi).collect()}
    whole = {(r["row"], r["col"]): r["cnt"] for r in full.collect()}
    assert merged == whole


# --------------------------------------------------------------------------- #
# integer PageRank                                                             #
# --------------------------------------------------------------------------- #


def _toy_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 3, 1), (3, 1, 1), (4, 1, 1)],
        "src long, dst long, w long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "node long")
    return edges, nodes


def test_pagerank_mass_and_order(spark):
    edges, nodes = _toy_graph(spark)
    ranks = {r["node"]: r["rank"] for r in pagerank_integer(edges, nodes, n_iter=6).collect()}
    scale = 10**12
    total = sum(ranks.values())
    # integer truncation + no dangling nodes here: mass stays within a hair of 1
    assert 0.95 * scale <= total <= scale
    # node 3 receives from 1 (weight 1) and 2; node 1 from 3 and 4 — both beat
    # node 4, which has no in-edges and sits at the teleport floor
    floor = (15 * (scale // 4)) // 100
    assert ranks[4] == floor
    assert min(ranks[1], ranks[2], ranks[3]) > floor


@pytest.mark.slow
def test_pagerank_bit_stable_under_repartition(spark):
    edges, nodes = _toy_graph(spark)
    a = {r["node"]: r["rank"] for r in pagerank_integer(edges, nodes, n_iter=6).collect()}
    b = {
        r["node"]: r["rank"]
        for r in pagerank_integer(edges.repartition(7), nodes.repartition(3), n_iter=6).collect()
    }
    assert a == b  # integer arithmetic: no accumulation-order drift


# --------------------------------------------------------------------------- #
# SemDeDup pruning                                                             #
# --------------------------------------------------------------------------- #


def test_semdedup_prune_sound_vs_numpy(spark):
    out = QUERY_REGISTRY["semdedup_prune"].fn(spark, SF_ORACLE).toPandas()
    emb = pd.read_parquet(f"{SF_ORACLE}/embeddings.parquet")
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    by_cluster: dict[int, list[int]] = {}
    for r in out.itertuples():
        by_cluster.setdefault(r.cluster_id, []).append(r.vec_id)
    pruned = set(out[out.is_pruned].vec_id)
    assert 0 < len(pruned) < len(out)  # the threshold actually bites
    kept_or_pruned = {}
    for cl, members in by_cluster.items():
        ms = sorted(members)
        for i, b in enumerate(ms):
            expect = any(cos(vecs[a], vecs[b]) >= 0.28 - 1e-12 for a in ms[:i])
            kept_or_pruned[b] = expect
    for vid in out.vec_id:
        assert (vid in pruned) == kept_or_pruned[vid], f"vec {vid} prune flag wrong"


def test_semdedup_no_unbroadcast_cartesian(spark):
    df = QUERY_REGISTRY["semdedup_prune"].fn(spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan  # centroid fan-out must ride a broadcast


# --------------------------------------------------------------------------- #
# chunking / sampling / entropy                                                #
# --------------------------------------------------------------------------- #


def test_chunks_cover_and_overlap(spark):
    out = QUERY_REGISTRY["doc_chunk_overlap"].fn(spark, SF_ORACLE).toPandas()
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    toks = {r.doc_id: r.text.strip().lower().split() for r in docs.itertuples()}
    for doc_id, grp in out.groupby("doc_id"):
        n = len(toks[doc_id])
        grp = grp.sort_values("start_tok")
        assert list(grp.start_tok) == list(range(0, n, 30))
        # reassembling non-overlap spans reproduces the token stream
        rebuilt = []
        for r in grp.itertuples():
            rebuilt.extend(r.chunk_text.split()[: min(30, n - r.start_tok)])
        assert rebuilt == toks[doc_id]
        # full chunks overlap the next chunk by exactly 10 tokens
        rows = list(grp.itertuples())
        for a, b in zip(rows, rows[1:]):
            if a.chunk_tokens == 40:
                assert a.chunk_text.split()[30:] == b.chunk_text.split()[:10]


def test_weighted_sample_biased_and_stable(spark):
    fn = QUERY_REGISTRY["weighted_corpus_sample"].fn
    out = fn(spark, SF_ORACLE).toPandas()
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    assert len(out) == 100
    # weight bias: sampled docs skew long (population mean is ~midpoint)
    assert out.n_chars.mean() > docs.n_chars.mean()
    again = fn(spark, SF_ORACLE).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("doc_id").reset_index(drop=True),
        again.sort_values("doc_id").reset_index(drop=True),
    )


def test_entropy_matches_numpy(spark):
    out = QUERY_REGISTRY["text_entropy_quality"].fn(spark, SF_ORACLE).toPandas()
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet").set_index("doc_id")
    alphabet = set("abcdefghijklmnopqrstuvwxyz ")
    for r in out.sample(50, random_state=7).itertuples():
        text = docs.loc[r.doc_id, "text"]
        counts: dict[str, int] = {}
        for ch in text:
            key = ch if ch in alphabet else "\x00OTHER"
            counts[key] = counts.get(key, 0) + 1
        n = len(text)
        ent = -sum((c / n) * math.log2(c / n) for c in counts.values())
        assert abs(ent - r.char_entropy) < 1e-5
        assert r.n_distinct_chars == len(counts)


def test_mapside_ops_have_zero_shuffles(spark):
    for name in ("text_entropy_quality", "doc_chunk_overlap"):
        df = QUERY_REGISTRY[name].fn(spark, SF_ORACLE)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 0, name
        assert "ReadSchema" in plan and "text" in plan  # pruned to the used cols


def test_source_precedence_keeps_best_source(spark):
    out = QUERY_REGISTRY["dedup_source_precedence"].fn(spark, SF_ORACLE).toPandas()
    assert (out.groupby("fingerprint")["keep"].sum() == 1).all()  # one winner each
    multi = out[out.group_size > 1]
    assert len(multi) > 0  # the fixture has real collisions
    for _, grp in multi.groupby("fingerprint"):
        winner = grp[grp.keep].iloc[0]
        best = min(int(s[3:]) for s in grp.source)
        assert int(winner.source[3:]) == best


# --------------------------------------------------------------------------- #
# bloom semi-join / triangles                                                  #
# --------------------------------------------------------------------------- #


def test_bloom_prune_no_false_negatives_and_effective(spark):
    from airflow_cms_inpatient_etl_spark.operators.bloom import bloom_build, bloom_prune

    o = load_table(spark, SF_ORACLE, "orders")
    li = load_table(spark, SF_ORACLE, "lineitem")
    build = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    ).select("o_orderkey")
    words = bloom_build(build, "o_orderkey")
    true_keys = {r["o_orderkey"] for r in build.collect()}
    surviving = {r["l_orderkey"] for r in bloom_prune(li, "l_orderkey", words).collect()}
    matching = {r["l_orderkey"] for r in li.select("l_orderkey").distinct().collect()} & true_keys
    assert matching <= surviving  # NO false negatives — the exactness contract
    # and the filter actually prunes: survivors are far below the full scan
    assert li.count() > 3 * bloom_prune(li, "l_orderkey", words).count()


def test_bloom_prune_is_mapside(spark):
    from airflow_cms_inpatient_etl_spark.operators.bloom import bloom_build, bloom_prune

    o = load_table(spark, SF_ORACLE, "orders")
    li = load_table(spark, SF_ORACLE, "lineitem")
    build = o.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    pruned = bloom_prune(li, "l_orderkey", bloom_build(build, "o_orderkey"))
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(pruned._jdf.queryExecution(), "formatted")
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 0  # filter = scan-side only


def test_triangle_counts_match_networkx_free_reference(spark):
    """Independent per-node triangle check via a driver-side adjacency walk
    (the graph is ~100 nodes, so the O(n·d²) reference is cheap)."""
    out = {r["node"]: r["n_triangles"] for r in
           QUERY_REGISTRY["graph_triangle_count"].fn(spark, SF_ORACLE).collect()}
    ev = pd.read_parquet(f"{SF_ORACLE}/events.parquet").sort_values(["user_id", "ts", "event_id"])
    import json as _json
    ev["node"] = ev["props"].map(lambda s: _json.loads(s)["k"])
    edges = set()
    for _, grp in ev.groupby("user_id"):
        ks = list(grp.node)
        for a, b in zip(ks, ks[1:]):
            if a != b:
                edges.add((min(a, b), max(a, b)))
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect: dict[int, int] = {}
    for a, b in edges:
        for c in adj[a] & adj[b]:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    expect = {n: c // 3 for n, c in expect.items()}  # each triangle seen via 3 edges
    assert out == {n: c for n, c in expect.items() if c > 0}


@pytest.mark.slow
def test_personalized_pagerank_seed_anchoring(spark):
    """Seeds-mode contract on the toy graph: a non-seed node with no
    in-edges gets EXACTLY zero (no teleport mass off-seed), and total mass
    stays bounded by scale."""
    edges, nodes = _toy_graph(spark)
    seeds = spark.createDataFrame([(1,), (2,)], "node long")
    snap = {r["node"]: r["rank"] for r in
            pagerank_integer(edges, nodes, n_iter=6, seeds=seeds).collect()}
    assert snap[4] == 0  # non-seed, no in-edges: zero mass
    assert sum(snap.values()) <= 10**12
    assert snap[1] > snap[4] and snap[2] > snap[4]
