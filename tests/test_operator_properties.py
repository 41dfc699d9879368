"""Property tests of the hand-rolled operators: document-frequency caps, ANN
and MinHash recall knobs, connected components, HLL merges, token-budget
packing, k-means training and product quantization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.dedup import ngram_jaccard_pairs
from airflow_cms_inpatient_etl_spark.sources.registry import load_table, release_snapshots
from tests.conftest import SF_SMOKE


def test_max_df_caps_hot_shingles(spark):
    """A boilerplate phrase shared by every doc is dropped by the df cap; the
    genuine near-dup pair is still found, and boilerplate-only pairs are not."""
    from airflow_cms_inpatient_etl_spark.operators.dedup import cap_stop_shingles
    from airflow_cms_inpatient_etl_spark.operators.text import exploded_shingle_hashes

    boiler = "copyright acme corp all rights reserved worldwide"
    rows = [
        (1, "alpha beta gamma delta epsilon zeta " + boiler),
        (2, "alpha beta gamma delta epsilon eta " + boiler),
    ]
    rows += [(i, f"u{i}a w{i}b x{i}c y{i}d z{i}e q{i}f " + boiler) for i in range(3, 13)]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    ex = exploded_shingle_hashes(d, "doc_id", "text", 3)
    capped = cap_stop_shingles(ex, max_df=5)
    max_df_left = capped.groupBy("h").count().agg(F.max("count")).collect()[0][0]
    assert max_df_left <= 5
    assert capped.count() < ex.count()  # the hot posting list really was dropped
    assert cap_stop_shingles(ex, None) is ex  # None = no-op

    pairs = ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.3, max_df=5)
    found = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert found == {(1, 2)}, found


@pytest.mark.slow
def test_ann_recall_knobs(spark):
    """Recall@5 against the brute-force truth rises monotonically with the
    multiprobe knob (fixed planes) and the IVF probe knob, and the tuned LSH
    config beats the fixed axis-aligned baseline.  All inputs are seeded, so
    these recalls are deterministic (measured: axis4/1=0.164, rand6 probes
    1/4/8 = 0.040/0.164/0.224, IVF probes 1/3 = 0.236/0.552 at sf0.01)."""
    import pytest

    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        ann_lsh_topk,
        brute_force_topk,
        ivf_topk,
        random_hyperplanes,
    )
    from tests.conftest import SF_ORACLE

    e = load_table(spark, SF_ORACLE, "embeddings")
    q = e.filter(e.vec_id < 50)
    truth = {(r["qid"], r["cid"]) for r in brute_force_topk(e, q, k=5).collect()}

    def recall(df):
        got = {(r["qid"], r["cid"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    baseline = recall(ann_lsh_topk(e, q, k=5))
    planes = random_hyperplanes(6, 64)
    r1 = recall(ann_lsh_topk(e, q, k=5, planes=planes, n_probes=1))
    r4 = recall(ann_lsh_topk(e, q, k=5, planes=planes, n_probes=4))
    r8 = recall(ann_lsh_topk(e, q, k=5, planes=planes, n_probes=8))
    assert r1 < r4 < r8, (r1, r4, r8)
    assert r8 > baseline, (r8, baseline)

    cent = e.filter(e.vec_id.between(100, 107))
    ivf1 = recall(ivf_topk(e, q, cent, k=5, n_probes=1))
    ivf3 = recall(ivf_topk(e, q, cent, k=5, n_probes=3))
    assert ivf3 > ivf1 + 0.1, (ivf1, ivf3)

    with pytest.raises(ValueError, match="hyperplanes"):
        ann_lsh_topk(e, q, k=5, n_probes=2)


def test_connected_components_synthetic(spark):
    """Path, triangle, and isolated pair all collapse to min-id labels; the
    path exercises multi-round propagation (diameter 4 > 1 round)."""
    from airflow_cms_inpatient_etl_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # path: all -> 1
         (10, 11), (11, 12), (10, 12),        # triangle: all -> 10
         (20, 21)],                           # pair: both -> 20
        "id1 long, id2 long",
    )
    got = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


@pytest.mark.slow
def test_connected_components_path_graph_logn_rounds(spark):
    """The O(log n) property the star algorithm exists for: a 10 000-node
    path graph (diameter 9 999 — min-label propagation would need ~n rounds)
    must collapse to a single min-labeled component in ≤ ~log₂(n) alternating
    large/small-star rounds.  Also covers the shuffled-orientation case: edge
    direction in the input must not matter."""
    from airflow_cms_inpatient_etl_spark.operators.graph import (
        connected_components_with_rounds,
    )

    n = 10_000
    ids = spark.range(n - 1)
    # alternate orientation so the input is not pre-sorted toward the root
    pairs = ids.selectExpr(
        "CASE WHEN id % 2 = 0 THEN id ELSE id + 1 END AS id1",
        "CASE WHEN id % 2 = 0 THEN id + 1 ELSE id END AS id2",
    )
    labels, rounds = connected_components_with_rounds(pairs)
    assert rounds <= 17  # ceil(log2(10_000)) = 14, + slack for constant factors
    got = labels.groupBy("label").count().collect()
    assert len(got) == 1 and got[0]["label"] == 0 and got[0]["count"] == n


def test_connected_components_self_loop_and_isolated(spark):
    """Self-pairs are legal near-dup output (a doc trivially pairs itself):
    the node must survive as its own singleton component, not vanish with the
    degenerate edge."""
    from airflow_cms_inpatient_etl_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(7, 7), (1, 2)], "id1 long, id2 long")
    got = {r["node"]: r["label"] for r in connected_components(pairs).collect()}
    assert got == {7: 7, 1: 1, 2: 1}


@pytest.mark.slow
def test_minhash_band_knobs_recall(spark):
    """Banded-LSH recall responds to the knobs as theory says: more, narrower
    bands can only widen the candidate set (8/2 recovers every true pair that
    stricter 8/1 misses; the extended 16-perm bank supports 16/4), and the
    exact-Jaccard verification keeps precision at 1.0 in every config."""
    from airflow_cms_inpatient_etl_spark.operators.dedup import (
        MINHASH_PERMS,
        minhash_lsh_pairs,
    )

    assert len(MINHASH_PERMS) >= 16
    d = load_table(spark, SF_SMOKE, "documents")
    truth = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.7).collect()
    }
    if not truth:
        return  # sf0.001 may lack planted pairs

    def pairs(nh, nb):
        return {
            (r["id1"], r["id2"])
            for r in minhash_lsh_pairs(
                d, "doc_id", "text", 0.7, n_hashes=nh, n_bands=nb
            ).collect()
        }

    strict, default, fine = pairs(8, 1), pairs(8, 2), pairs(16, 4)
    for got in (strict, default, fine):
        assert got <= truth  # exact verification: no false positives, ever
    assert strict <= default  # fewer bands = strictly harder candidacy
    assert len(default & truth) >= len(strict & truth)
    assert len(fine & truth) >= len(strict & truth)


def test_hll_sketch_merge_accuracy(spark):
    """Per-shard HLL sketches merged via hll_union_agg estimate within 2% of
    the exact distinct count (as does the single-pass sketch); merge-time
    unioning is what makes distinct counts incrementally maintainable."""
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
    from tests.conftest import SF_ORACLE

    rows = QUERY_REGISTRY["approx_distinct_sketch_merge"].fn(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["exact_distinct"] > 0
        # the query now carries its accuracy claims as oracled booleans
        assert r["merged_within_2pct"] and r["direct_within_2pct"], r


def test_pack_token_budget_invariants(spark):
    """Beyond the hash oracle, on the bucketed (lang, bucket) packing shape:
    every shard's token total stays under budget + its largest doc (greedy
    prefix packing can overshoot by at most the doc that crosses the
    boundary), shards number consecutively from 0 within each (lang, bucket)
    packing unit, every doc lands in exactly one shard, and the bucket fan-out
    actually spreads the dominant language (the de-skew property)."""
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
    from airflow_cms_inpatient_etl_spark.queries.pipeline import PACK_BUCKETS
    from tests.conftest import SF_ORACLE

    pdf = QUERY_REGISTRY["pack_token_budget"].fn(spark, SF_ORACLE).toPandas()
    budget = 2000
    for (_lang, _bucket, _shard), g in pdf.groupby(["lang", "bucket", "shard"]):
        assert g["n_tokens"].sum() <= budget + g["n_tokens"].max()
    for (_lang, _bucket), g in pdf.groupby(["lang", "bucket"]):
        shards = sorted(g["shard"].unique())
        assert shards == list(range(len(shards)))
    assert pdf["doc_id"].is_unique
    # de-skew: the dominant stratum spans (nearly) all buckets, so no single
    # window sort sees more than ~1/PACK_BUCKETS of it
    en = pdf[pdf["lang"] == pdf["lang"].mode()[0]]
    assert en["bucket"].nunique() == PACK_BUCKETS
    assert en["bucket"].value_counts().max() <= 2 * len(en) / PACK_BUCKETS


@pytest.mark.slow
def test_kmeans_fit_converges_and_is_stable(spark):
    """Full Lloyd's loop: converges on the sf0.01 embeddings well before the
    iteration cap, partitions every vector, uses every cluster, and is a
    fixpoint — re-assigning against the final centroids changes nothing."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import ivf_assign, kmeans_fit
    from tests.conftest import SF_ORACLE

    e = load_table(spark, SF_ORACLE, "embeddings")
    n = e.count()
    release_snapshots(spark)
    pinned_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assignments, centroids, iters = kmeans_fit(e, k=4, max_iters=20)
    assert 0 < iters < 20                      # actually iterated, then stopped
    assert assignments.count() == n            # every vector assigned
    assert assignments.select("vec_id").distinct().count() == n
    assert assignments.select("centroid_id").distinct().count() == 4
    refit = ivf_assign(e, centroids.withColumnRenamed("centroid_id", "vec_id"))
    moved = (
        refit.withColumnRenamed("centroid_id", "re_cid")
        .join(assignments, "vec_id")
        .filter(F.col("re_cid") != F.col("centroid_id"))
        .count()
    )
    assert moved == 0                          # fixpoint reached
    release_snapshots(spark)                   # frees every round's pins
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == pinned_before


@pytest.mark.slow
def test_pq_adc_properties(spark):
    """PQ invariants: every vector gets exactly m codes in [0, n_codes);
    ADC returns exactly k rows per query; Lloyd training does not reduce
    (and on this fixture strictly improves) recall vs the exact-L2 truth."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        l2_sq,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
        pq_train,
    )
    from airflow_cms_inpatient_etl_spark.sources.registry import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = e.filter(F.col("vec_id") < 32)
    k, m = 5, 8

    cb = pq_codebook(e, (200, 215), m)
    enc = pq_encode(e, cb, m)
    n_vec = e.count()
    assert enc.count() == n_vec * m  # one code per (vector, subspace)
    assert enc.groupBy("vec_id").count().filter(F.col("count") != m).count() == 0
    bad = enc.filter((F.col("code") < 0) | (F.col("code") > 15)).count()
    assert bad == 0

    topk = pq_adc_topk(e, q, cb, m, k=k)
    per_q = topk.groupBy("qid").count().collect()
    assert len(per_q) == 32 and all(r["count"] == k for r in per_q)

    qs = q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    w = W.partitionBy("qid").orderBy(F.col("d").asc(), F.col("cid").asc())
    truth = {
        (r["qid"], r["cid"])
        for r in (
            e.select(F.col("vec_id").alias("cid"), "embedding")
            .crossJoin(F.broadcast(qs))
            .filter(F.col("cid") != F.col("qid"))
            .select("qid", "cid", l2_sq("embedding", "qvec").alias("d"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .collect()
        )
    }

    def recall(df):
        got = {(r["qid"], r["cid"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    seeded = recall(topk)
    trained = recall(pq_adc_topk(e, q, pq_train(e, (200, 215), m, iters=2), m, k=k))
    assert trained >= seeded  # Lloyd iterations never hurt on the train set
