"""Round-6 additions: operator guard rails from the round-5 advice pass
(bloom key type parity, pagerank/cms degenerate inputs), plus tests for the
operators added this round."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.operators.graph import pagerank_integer
from airflow_cms_inpatient_etl_spark.operators.sketch import cms_merge
from airflow_cms_inpatient_etl_spark.session import scoped_conf
from airflow_cms_inpatient_etl_spark.sources.registry import load_table
from tests.conftest import SF_ORACLE

# --------------------------------------------------------------------------- #
# guard rails                                                                  #
# --------------------------------------------------------------------------- #


def test_bloom_semi_join_rejects_mismatched_key_types(spark):
    """xxhash64 hashes INT and BIGINT differently, so a type-mismatched
    build/probe pair would compute different bit positions — silent false
    negatives.  The operator must refuse rather than quietly drop rows."""
    from airflow_cms_inpatient_etl_spark.operators.bloom import bloom_semi_join

    probe = spark.range(100).select(F.col("id").alias("k"))  # bigint
    build = spark.range(10).select(F.col("id").cast("int").alias("j"))  # int
    with pytest.raises(ValueError, match="dtype mismatch"):
        bloom_semi_join(probe, build, "k", "j")
    # same data, canonicalized: works and is exact
    n = bloom_semi_join(probe, build.select(F.col("j").cast("long").alias("j")), "k", "j").count()
    assert n == 10


def test_pagerank_rejects_empty_teleport_set(spark):
    edges = spark.range(1).select(
        F.lit(0).cast("long").alias("src"),
        F.lit(1).cast("long").alias("dst"),
        F.lit(1).cast("long").alias("w"),
    )
    nodes = spark.range(2).select(F.col("id").alias("node"))
    empty = nodes.filter(F.lit(False))
    with pytest.raises(ValueError, match="empty nodes"):
        pagerank_integer(edges, empty)
    with pytest.raises(ValueError, match="empty seeds"):
        pagerank_integer(edges, nodes, seeds=empty)


def test_cms_merge_rejects_zero_sketches():
    with pytest.raises(ValueError, match="at least one sketch"):
        cms_merge()


def test_semdedup_requires_exactly_one_sizing_knob(spark):
    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        semdedup_assign_prune,
    )

    e = load_table(spark, SF_ORACLE, "embeddings")
    with pytest.raises(ValueError, match="exactly one"):
        semdedup_assign_prune(e)
    with pytest.raises(ValueError, match="exactly one"):
        semdedup_assign_prune(e, k=8, target_cluster_size=100)


# --------------------------------------------------------------------------- #
# bigram-LM quality scoring                                                    #
# --------------------------------------------------------------------------- #


def test_lm_score_matches_hand_computation(spark):
    """Tiny corpus, hand-checked add-one smoothing: ref = 'a b a b' gives
    c2(a,b)=2, c2(b,a)=1, c1(a)=2, c1(b)=1, vocab=|{a,b}|+1=3.
    Scoring 'a b'   : p(b|a) = (2+1)/(2+3) = 0.6        -> 0.736966 bits
    Scoring 'z z'   : p(z|z) = (0+1)/(0+3) = 1/3 (OOV)  -> 1.584963 bits
    Scoring 'b a b' : p(a|b)=(1+1)/(1+3)=0.5, p(b|a)=0.6 -> mean 0.868483
    """
    from airflow_cms_inpatient_etl_spark.operators.lm import (
        score_bits_per_token,
        train_bigram_lm,
    )

    ref = spark.createDataFrame([("a b a b",)], ["text"])
    c2, c1, vocab = train_bigram_lm(ref)
    assert vocab == 3
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "z z"), (3, "b a b"), (4, "solo")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in score_bits_per_token(docs, c2, c1, vocab).collect()}
    assert out[1]["bits_per_token"] == pytest.approx(0.736966, abs=1e-6)
    assert out[2]["bits_per_token"] == pytest.approx(1.584963, abs=1e-6)
    assert out[3]["bits_per_token"] == pytest.approx(0.868483, abs=1e-6)
    assert out[3]["n_bigrams"] == 2
    assert 4 not in out  # single-token doc: no bigrams, no row


def test_lm_min_count_prunes_model_but_keeps_probabilities_proper(spark):
    """min_count shrinks the broadcast table (rare bigrams fall back to the
    smoothed floor) without touching history counts — scores only move
    DOWN in probability (up in bits) for pruned pairs, never above 1."""
    from airflow_cms_inpatient_etl_spark.operators.lm import (
        score_bits_per_token,
        train_bigram_lm,
    )

    ref = load_table(spark, SF_ORACLE, "documents").filter(F.col("lang") == "en")
    c2_full, c1, vocab = train_bigram_lm(ref)
    c2_pruned, c1b, vocab_b = train_bigram_lm(ref, min_count=3)
    assert (vocab, c1.count()) == (vocab_b, c1b.count())
    assert c2_pruned.count() < c2_full.count()
    docs = load_table(spark, SF_ORACLE, "documents").limit(50)
    full = {r["doc_id"]: r["bits_per_token"]
            for r in score_bits_per_token(docs, c2_full, c1, vocab).collect()}
    pruned = {r["doc_id"]: r["bits_per_token"]
              for r in score_bits_per_token(docs, c2_pruned, c1, vocab).collect()}
    assert set(full) == set(pruned)
    assert all(pruned[k] >= full[k] - 1e-9 for k in full)
    assert all(v > 0 for v in pruned.values())  # every smoothed p < 1


# --------------------------------------------------------------------------- #
# repeated-span (exact substring) dedup                                        #
# --------------------------------------------------------------------------- #


def test_repeated_spans_keeps_only_first_occurrence(spark, tmp_path):
    """A 10-token paragraph pasted into 3 documents must survive only in the
    lexicographically-first (doc_id, pos) slot; unique spans untouched."""
    from airflow_cms_inpatient_etl_spark.queries.dedup import dedup_repeated_spans

    boiler = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    rows = [
        (1, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 " + boiler),  # boiler at pos 2
        (2, boiler + " v1 v2 v3 v4 v5 v6 v7 v8 v9 v10"),  # boiler at pos 1
        (3, boiler),                                       # boiler at pos 1
        (4, "w1 w2 w3"),                                   # unique short doc
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r["doc_id"]: r for r in dedup_repeated_spans(spark, str(tmp_path)).collect()}
    # first occurrence is (doc 1, pos 2)? No: lexicographic min over
    # (doc_id, pos) among {(1,2),(2,1),(3,1)} is (1,2) -> doc 1 keeps it
    assert out[1]["n_removed"] == 0 and boiler in out[1]["dedup_text"]
    assert out[2]["n_removed"] == 1 and boiler not in out[2]["dedup_text"]
    assert out[3]["n_removed"] == 1 and out[3]["dedup_text"] == ""
    assert out[4]["n_removed"] == 0 and out[4]["dedup_text"] == "w1 w2 w3"


# --------------------------------------------------------------------------- #
# reliable checkpoint for iterative graph ops                                  #
# --------------------------------------------------------------------------- #


@pytest.mark.slow
def test_connected_components_reliable_checkpoint_survives_block_loss(spark, tmp_path):
    """Verdict r5 #7: with checkpoint_dir set, per-round snapshots go to the
    reliable checkpoint on disk, so the result survives losing EVERY
    in-memory block mid-computation (the executor-loss simulation that
    would kill the localCheckpoint mode, whose truncated lineage cannot
    recompute evicted blocks)."""
    from airflow_cms_inpatient_etl_spark.operators.graph import (
        connected_components,
        connected_components_with_rounds,
    )

    n = 1000
    path_edges = spark.range(n - 1).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    ckpt = str(tmp_path / "ckpt")
    labels, rounds = connected_components_with_rounds(
        path_edges, checkpoint_dir=ckpt
    )
    # snapshots actually landed on disk
    import glob

    assert glob.glob(ckpt + "/*/rdd-*"), "no reliable checkpoint files written"
    # simulate total in-memory block loss BEFORE materializing the result
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in jmap.values():
        jrdd.unpersist()
    agg = labels.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("label").alias("k"),
        F.max("label").alias("mx"),
    ).first()
    assert (agg["n"], agg["k"], agg["mx"]) == (n, 1, 0)
    # and the two modes agree
    base = connected_components(path_edges)
    assert base.exceptAll(labels).isEmpty() and labels.exceptAll(base).isEmpty()


# --------------------------------------------------------------------------- #
# k-core peel                                                                  #
# --------------------------------------------------------------------------- #


def test_kcore_hand_graph(spark):
    """Hand graph: triangle {1,2,3} plus a tail 3-4-5.  2-core = the
    triangle (tail peels in 2 rounds: 5 first, then 4)."""
    from airflow_cms_inpatient_etl_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["a", "b"]
    )
    out = {r["node"]: r for r in kcore_peel(edges, k=2, rounds=4).collect()}
    assert {n for n, r in out.items() if r["in_core"]} == {1, 2, 3}
    assert all(out[n]["core_deg"] == 2 for n in (1, 2, 3))
    assert all(out[n]["core_deg"] == 0 for n in (4, 5))


def test_kcore_registry_budget_reaches_fixpoint(spark):
    """The registry query's fixed 6-round budget must BE the k-core at the
    oracle fixture: one more peel round changes nothing (fixpoint), so the
    rounds-bounded output equals the true k-core."""
    from airflow_cms_inpatient_etl_spark.operators.graph import kcore_peel
    from airflow_cms_inpatient_etl_spark.queries.curation2 import (
        _KCORE_K,
        _KCORE_MIN_W,
        _KCORE_ROUNDS,
        _transition_graph,
    )

    tr, _, _ = _transition_graph(spark, SF_ORACLE)
    und = (
        tr.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _KCORE_MIN_W)
        .select("a", "b")
    )
    at_budget = kcore_peel(und, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    one_more = kcore_peel(und, k=_KCORE_K, rounds=_KCORE_ROUNDS + 1)
    assert at_budget.exceptAll(one_more).isEmpty()
    assert one_more.exceptAll(at_budget).isEmpty()
    survivors = at_budget.filter("in_core").count()
    assert 0 < survivors < at_budget.count()  # a real cascade, not degenerate


# --------------------------------------------------------------------------- #
# SQ8 scalar-quantized ANN                                                     #
# --------------------------------------------------------------------------- #


def test_sq8_codes_are_8bit_and_deterministic(spark):
    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        sq8_encode,
        sq8_stats,
    )

    e = load_table(spark, SF_ORACLE, "embeddings")
    stats = sq8_stats(e)
    enc = sq8_encode(e, stats)
    rng = enc.select(
        F.min(F.array_min("qcode")).alias("lo"),
        F.max(F.array_max("qcode")).alias("hi"),
    ).first()
    assert 0 <= rng["lo"] and rng["hi"] <= 255
    # global min/max dims hit the grid endpoints exactly
    assert rng["lo"] == 0 and rng["hi"] == 255
    a = sorted(enc.select("vec_id", "qcode").collect())
    b = sorted(sq8_encode(e, sq8_stats(e)).select("vec_id", "qcode").collect())
    assert a == b


def test_sq8_recall_against_brute_force(spark):
    """Coarse-m=20 over 8-bit codes must recover most of the true top-5:
    corpus-level recall >= 0.8 on the fixture (recorded honestly — SQ8 is
    an approximation; the rerank makes scores exact, not the candidate
    set)."""
    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        brute_force_topk,
        sq8_topk,
    )

    e = load_table(spark, SF_ORACLE, "embeddings")
    q = e.filter(e.vec_id < 8)
    truth = {(r["qid"], r["cid"]) for r in brute_force_topk(e, q, k=5).collect()}
    got = {(r["qid"], r["cid"]) for r in sq8_topk(e, q, k=5, coarse_m=20).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"SQ8 recall {recall:.2f} below floor"


# --------------------------------------------------------------------------- #
# table profiler + range sharder                                               #
# --------------------------------------------------------------------------- #


def test_profile_table_stats_sane(spark):
    from airflow_cms_inpatient_etl_spark.queries.relational2 import (
        profile_table_stats,
    )

    rows = {r["col_name"]: r for r in profile_table_stats(spark, SF_ORACLE).collect()}
    n = {r["n_rows"] for r in rows.values()}
    assert len(n) == 1  # one scan, one row count
    assert rows["l_linenumber"]["n_distinct"] == 7
    assert rows["l_linenumber"]["min_val"] == "1"
    assert rows["l_returnflag"]["n_distinct"] == 3
    assert all(r["n_nulls"] == 0 for r in rows.values())


def test_range_shards_are_balanced_and_complete(spark):
    """Exact-quantile boundaries must yield shards that (a) partition the
    corpus completely and (b) stay within 2× of the ideal n/8 even with
    integer ties — the property Spark's sampling RangePartitioner only
    gives probabilistically."""
    from airflow_cms_inpatient_etl_spark.queries.pipeline import (
        _N_SHARDS,
        corpus_range_shards,
    )

    shards = corpus_range_shards(spark, SF_ORACLE).collect()
    n_docs = load_table(spark, SF_ORACLE, "documents").count()
    assert sum(r["n_docs"] for r in shards) == n_docs
    assert {r["shard_id"] for r in shards} <= set(range(1, _N_SHARDS + 1))
    ideal = n_docs / _N_SHARDS
    assert max(r["n_docs"] for r in shards) <= 2 * ideal
    # shards are contiguous, non-overlapping ranges in n_chars
    ordered = sorted(shards, key=lambda r: r["shard_id"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["hi_chars"] <= b["lo_chars"]


def test_sq8_quantization_error_bounded_by_half_step(spark):
    """Decode error of the min-max grid is at most half a step per
    dimension: |x - (lo + c/255*(hi-lo))| <= (hi-lo)/510 + 1ulp — the
    bound that justifies using code-space dots as the coarse ranking."""
    import numpy as np

    from airflow_cms_inpatient_etl_spark.operators.similarity import (
        sq8_encode,
        sq8_stats,
    )

    e = load_table(spark, SF_ORACLE, "embeddings")
    stats = sq8_stats(e)
    srow = stats.first()
    lo = np.array(srow["lo"], dtype=np.float64)
    hi = np.array(srow["hi"], dtype=np.float64)
    rows = sq8_encode(e, stats).select("embedding", "qcode").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    C = np.array([r["qcode"] for r in rows], dtype=np.int64)
    decoded = lo + C / 255.0 * (hi - lo)
    err = np.abs(X - decoded)
    bound = (hi - lo) / 510.0 + 1e-12
    assert (err <= bound).all(), float(err.max())


# --------------------------------------------------------------------------- #
# bounded live storage across iterative rounds                                 #
# --------------------------------------------------------------------------- #


@pytest.mark.slow
def test_iterative_loops_free_intermediate_snapshots(spark):
    """Each round's localCheckpoint must be unpersisted the moment the round
    that consumed it is materialized — otherwise an N-round peel pins N
    snapshots until driver GC, and a long-lived session accumulates blocks
    until storage eviction thrash.  Live storage after the call must be only
    the snapshots the RESULT still needs (kcore: adj + nodes + final alive;
    CC: nodes + final edge set), not one per round."""
    from airflow_cms_inpatient_etl_spark.operators.graph import (
        connected_components,
        kcore_peel,
    )

    sc = spark.sparkContext
    jsc = sc._jsc

    # long path ⇒ many peel rounds (endpoints peel one per round at k=2)
    n = 24
    path = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])

    before = jsc.getPersistentRDDs().size()
    out = kcore_peel(path, k=2, rounds=13)  # 25 nodes: 2 endpoints/round, last lone node round 13
    assert out.filter("in_core").count() == 0  # a path has no 2-core
    pinned = jsc.getPersistentRDDs().size() - before
    assert pinned <= 3, f"kcore left {pinned} snapshots pinned (expected <=3)"

    before = jsc.getPersistentRDDs().size()
    labels = connected_components(path.withColumnRenamed("a", "id1").withColumnRenamed("b", "id2"))
    assert labels.select(F.countDistinct("label")).first()[0] == 1
    pinned = jsc.getPersistentRDDs().size() - before
    assert pinned <= 2, f"CC left {pinned} snapshots pinned (expected <=2)"


# --------------------------------------------------------------------------- #
# wave-5: BM25 search, DSIR importance resampling, MAD anomaly flags           #
# --------------------------------------------------------------------------- #


def test_bm25_tf_and_idf_monotonicity(spark):
    """Same-length docs: more occurrences of a query term ⇒ higher score
    (tf saturation is monotone); and a doc hitting a RARE term outscores a
    doc hitting a COMMON one with the same tf/dl (idf ordering)."""
    import pandas as pd
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
    import tempfile, os

    # corpus: 'hash' rare (2 docs), 'join' common (8 docs); pad to equal dl
    rows = []
    for i in range(8):
        rows.append((i, "join " + "pad " * 7, "en", "s1", 40))
    rows.append((100, "hash join pad pad pad pad pad pad", "en", "s1", 33))
    rows.append((101, "hash hash pad pad pad pad pad pad", "en", "s1", 33))
    rows.append((102, "join join pad pad pad pad pad pad", "en", "s1", 33))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = QUERY_REGISTRY["text_bm25_search"].fn(spark, d).toPandas()
    s = out.set_index("doc_id")["score"]
    # tf monotone: two hashes beat one hash (dl equal)
    assert s[101] > s[100] or (101 in s.index and 100 not in s.index)
    # idf: one hash + one join (rare+common) beats two joins (common only)
    assert s[100] > s[102]


def test_dsir_model_is_corpus_invariant_and_favors_target(spark, tmp_path):
    """The hashed model must be exactly _DSIR_B rows however large the
    vocabulary, and English (reference-slice) docs must carry a higher
    median importance weight than off-target docs at the fixture."""
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
    from airflow_cms_inpatient_etl_spark.queries.quality import _DSIR_B, _DSIR_K

    out = QUERY_REGISTRY["quality_dsir_importance"].fn(
        spark, SF_ORACLE
    ).toPandas()
    assert len(out) == _DSIR_K
    assert out["sample_rank"].is_unique and out["sample_rank"].max() == _DSIR_K
    # selection favors target-like docs: the en share of the sample exceeds
    # the en share of the corpus (the whole point of importance resampling)
    docs = load_table(spark, SF_ORACLE, "documents").select("lang").toPandas()
    en_corpus = (docs["lang"] == "en").mean()
    en_sample = (out["lang"] == "en").mean()
    assert en_sample > en_corpus, (en_sample, en_corpus)


def test_mad_hand_computation(spark, tmp_path):
    """Hand-checkable frame: values [1,2,3,4,100] → med 3, devs [2,1,0,1,97],
    mad 1; only 100 flags at the 3·MAD fence (97 > 3)."""
    import datetime as dt
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
    import os

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0, 1, "click", float(v), "{}")
        for i, v in enumerate([1, 2, 3, 4, 100])
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).write.parquet(os.path.join(d, "events.parquet"))
    out = QUERY_REGISTRY["events_anomaly_mad"].fn(spark, d).toPandas()
    assert out["med"].unique().tolist() == [3.0]
    assert out["mad"].unique().tolist() == [1.0]
    flagged = set(out[out["is_outlier"]]["event_id"])
    assert flagged == {4}
    z = out.set_index("event_id")["robust_z"]
    assert z[4] == 97.0 and z[2] == 0.0


# --------------------------------------------------------------------------- #
# wave-6: SCD2 point-in-time join + delete propagation                         #
# --------------------------------------------------------------------------- #


def test_point_in_time_join_picks_version_valid_at_fact_time(spark):
    """Half-open interval semantics on a 2-version key: a fact ON the
    boundary takes the NEW version; pre-history facts drop under inner and
    survive with NULLs under left."""
    import datetime as dt
    from airflow_cms_inpatient_etl_spark.operators.upsert import (
        scd2_point_in_time_join,
    )

    T = lambda s: dt.datetime.fromisoformat(s)
    hist = spark.createDataFrame(
        [
            (1, "OLD", T("2020-01-01"), T("2021-01-01"), False),
            (1, "NEW", T("2021-01-01"), None, True),
        ],
        ["k", "seg", "valid_from", "valid_to", "is_current"],
    )
    facts = spark.createDataFrame(
        [
            (10, 1, T("2020-06-01")),  # inside v1
            (11, 1, T("2021-01-01")),  # exactly on the boundary -> v2
            (12, 1, T("2019-01-01")),  # before any version
            (13, 2, T("2021-06-01")),  # unknown key
        ],
        ["fid", "fk", "ts"],
    )
    inner = {
        r["fid"]: r["seg"]
        for r in scd2_point_in_time_join(facts, hist, [("fk", "k")], "ts").collect()
    }
    assert inner == {10: "OLD", 11: "NEW"}
    left = {
        r["fid"]: r["seg"]
        for r in scd2_point_in_time_join(
            facts, hist, [("fk", "k")], "ts", how="left"
        ).collect()
    }
    assert left == {10: "OLD", 11: "NEW", 12: None, 13: None}


def test_delete_propagation_counts_are_consistent(spark):
    """Cascade invariants at the fixture: every level's deleted+remaining
    equals the table total, and no lineitem survives whose order was
    deleted."""
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY

    out = {
        r["table_name"]: r
        for r in QUERY_REGISTRY["cdc_delete_propagation"].fn(spark, SF_ORACLE).collect()
    }
    for t in ("customer", "orders", "lineitem"):
        total = load_table(spark, SF_ORACLE, t).count()
        assert out[t]["n_deleted"] + out[t]["n_remaining"] == total, t
    assert out["customer"]["n_deleted"] > 0  # the request set is non-empty
    # independent check of the final level: lineitems of deleted orders
    li = load_table(spark, SF_ORACLE, "lineitem")
    o = load_table(spark, SF_ORACLE, "orders")
    c = load_table(spark, SF_ORACLE, "customer")
    del_o = o.join(
        c.filter(F.col("c_custkey") % 97 == 0),
        o["o_custkey"] == c["c_custkey"],
        "semi",
    )
    expect = li.join(del_o, li["l_orderkey"] == del_o["o_orderkey"], "semi").count()
    assert out["lineitem"]["n_deleted"] == expect


def test_global_rank_sharded_window_never_single_partition(spark):
    """The corpus-sized window must hash-partition by shard (8 independent
    sorts); only the tiny histogram cumsum may use a single partition.  Also:
    the output ranks are exactly the permutation 1..n."""
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["global_rank_via_sharding"].fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(shard_id" in plan
    ranks = [r["global_rank"] for r in df.select("global_rank").collect()]
    assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_global_rank_survives_total_ties(spark, tmp_path):
    """All documents the same length → every boundary collapses onto the one
    value, all rows land in shard 1 with offset 0, and doc_id alone breaks
    ties: ranks must still be the exact permutation."""
    import os
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY

    rows = [(i, "x", "en", "s1", 42) for i in (5, 3, 9, 1, 7)]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    out = QUERY_REGISTRY["global_rank_via_sharding"].fn(spark, str(tmp_path)).collect()
    got = {r["doc_id"]: r["global_rank"] for r in out}
    assert got == {1: 1, 3: 2, 5: 3, 7: 4, 9: 5}


def test_hamming_banding_pigeonhole_recall_and_hot_bucket_cap(spark):
    """Pigeonhole guarantee on synthetic fingerprints: with 4 byte-bands,
    EVERY pair within Hamming<=3 shares a band and must be found; a pair at
    Hamming 4 spread across all 4 bands shares none and must not even be a
    candidate.  And a band byte shared by more docs than the occupancy cap
    contributes no candidates (the hot-bucket skew bound)."""
    from airflow_cms_inpatient_etl_spark.queries.dedup import (
        _HAM_BAND_BITS,
        _HAM_BANDS,
        _HAM_MAX_BUCKET,
        _HAM_T,
    )
    from pyspark.sql import functions as F

    # re-implement the candidate stage over direct fingerprints (the query
    # derives them from text; the guarantee is about the banding machinery)
    def pairs(fps):
        fp = spark.createDataFrame(fps, ["doc_id", "f"])
        bands = fp.select(
            "doc_id", "f",
            F.explode(F.sequence(F.lit(0), F.lit(_HAM_BANDS - 1))).alias("i"),
        ).withColumn(
            "key",
            F.expr(f"shiftright(f, {_HAM_BAND_BITS} * i) & {2**_HAM_BAND_BITS - 1}"),
        )
        small = (
            bands.groupBy("i", "key").agg(F.count(F.lit(1)).alias("occ"))
            .filter(F.col("occ") <= _HAM_MAX_BUCKET).select("i", "key")
        )
        kept = bands.join(small, ["i", "key"], "semi")
        a = kept.select("i", "key", F.col("doc_id").alias("id1"), F.col("f").alias("f1"))
        b = kept.select("i", "key", F.col("doc_id").alias("id2"), F.col("f").alias("f2"))
        cand = (a.join(b, ["i", "key"]).filter(F.col("id1") < F.col("id2"))
                .select("id1", "id2", "f1", "f2").distinct())
        return {
            (r["id1"], r["id2"])
            for r in cand.withColumn("h", F.bit_count(F.expr("f1 ^ f2")))
            .filter(F.col("h") <= _HAM_T).collect()
        }

    base = 0x123456789ABCDEF  # < 2^60
    flip = lambda bits: base ^ sum(1 << b for b in bits)
    got = pairs([
        (1, base),
        (2, flip([0])),           # hamming 1
        (3, flip([0, 16, 31])),   # hamming 3, spread over 3 of the 15-bit bands
        (4, flip([0, 16, 31, 46])),  # hamming 4, one flip in EVERY band
    ])
    assert (1, 2) in got and (1, 3) in got  # pigeonhole recall inside radius
    assert (1, 4) not in got  # no shared band -> not even a candidate
    # hot buckets: cap+2 docs sharing bytes 0, 2 and 3 (all over-occupied ->
    # dropped) while byte 1 is unique per doc -> no kept band is ever shared,
    # so the skewed population contributes ZERO candidates
    hot = [(i, (i << _HAM_BAND_BITS) | 0x42) for i in range(_HAM_MAX_BUCKET + 2)]
    assert pairs(hot) == set()


def test_ancestor_closure_hand_tree_and_isolated_node(spark):
    """Hand forest: chain 5->4->2->1, plus 3->1, plus isolated 9 (present
    only via the nodes universe).  Closure = every path-to-root pair plus
    self pairs; the isolated node appears only as (9,9)."""
    from airflow_cms_inpatient_etl_spark.operators.graph import ancestor_closure

    parents = spark.createDataFrame(
        [(5, 4), (4, 2), (2, 1), (3, 1)], ["node", "parent"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 9)], ["node"])
    got = {
        (r["node"], r["anc"])
        for r in ancestor_closure(parents, max_depth=4, nodes=nodes).collect()
    }
    expect = {
        (1, 1), (2, 2), (3, 3), (4, 4), (5, 5), (9, 9),
        (2, 1), (3, 1), (4, 2), (4, 1), (5, 4), (5, 2), (5, 1),
    }
    assert got == expect


def test_quantile_normalize_equalizes_source_distributions(spark):
    """The point of quantile normalization: after it, per-source score
    distributions collapse onto the global one — cross-source mean spread
    must shrink dramatically vs the raw signal, and every normalized value
    must lie inside the global raw range."""
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY

    out = QUERY_REGISTRY["quality_quantile_normalize"].fn(spark, SF_ORACLE).toPandas()
    raw_spread = out.groupby("source")["n_chars"].mean().std()
    norm_spread = out.groupby("source")["norm_score"].mean().std()
    assert norm_spread < raw_spread * 0.5, (norm_spread, raw_spread)
    assert out["norm_score"].min() >= out["n_chars"].min()
    assert out["norm_score"].max() <= out["n_chars"].max()


def test_cusum_alarms_on_injected_shift_only(spark, tmp_path):
    """Synthetic regime change: 50 rows at value 10, then 20 rows at 200.
    The closed-form CUSUM (prefix sum minus running min) must stay silent
    through the stationary prefix and alarm within a few rows of the
    shift — and never alarm before it."""
    import datetime as dt
    import os
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1, "click",
         10.0 if i < 50 else 200.0, "{}")
        for i in range(70)
    ]
    spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).write.parquet(os.path.join(str(tmp_path), "events.parquet"))
    out = (
        QUERY_REGISTRY["events_cusum_drift"].fn(spark, str(tmp_path))
        .orderBy("event_id")
        .toPandas()
    )
    pre = out[out["event_id"] < 50]
    post = out[out["event_id"] >= 50]
    assert not pre["drift_alarm"].any()  # stationary prefix: silent
    assert post["drift_alarm"].iloc[5:].all()  # shift detected within ~5 rows
    assert (pre["cusum"] >= 0).all() and (out["cusum"].diff().iloc[51:60] > 0).all()


# --------------------------------------------------------------------------- #
# wave-12 analytics / DQ / mining families                                     #
# --------------------------------------------------------------------------- #


def test_gaps_islands_partition_day_range(spark):
    """Every island's day span must equal its day count minus one (consecutive
    days, no gaps inside an island)."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import events_gaps_islands

    pdf = events_gaps_islands(spark, SF_ORACLE).toPandas()
    assert len(pdf) > 0
    span = (pdf["island_end"] - pdf["island_start"]).dt.days
    assert (span == pdf["n_days"] - 1).all()


def test_markov_rows_normalize_to_one(spark):
    """Each from_type's outgoing probabilities sum to 1 (within float repr)."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        events_markov_transitions,
    )

    pdf = events_markov_transitions(spark, SF_ORACLE).toPandas()
    sums = pdf.groupby("from_type")["p"].sum()
    assert ((sums - 1.0).abs() < 1e-12).all()


def test_cohort_offset_zero_equals_cohort_size(spark):
    """Week-offset 0 counts every cohort member (everyone is active in their
    own first week), and retention never exceeds the cohort size."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        events_cohort_retention,
    )

    pdf = events_cohort_retention(spark, SF_ORACLE).toPandas()
    base = pdf[pdf.week_offset == 0].set_index("cohort_week")["n_users"]
    later = pdf[pdf.week_offset > 0]
    for _, row in later.iterrows():
        assert row["n_users"] <= base[row["cohort_week"]]
    assert set(pdf[pdf.week_offset == 0].cohort_week) == set(pdf.cohort_week)


def test_sliding_distinct_users_vs_naive_window(spark):
    """The dedup-then-expand plan equals a naive per-window distinct count
    computed straight from the event scan with F.window(60m, 5m)."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        window_sliding_distinct_users,
    )

    ours = window_sliding_distinct_users(spark, SF_ORACLE)
    ev = load_table(spark, SF_ORACLE, "events")
    naive = (
        ev.groupBy(F.window("ts", "60 minutes", "5 minutes"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_users",
        )
    )
    assert ours.exceptAll(naive).count() == 0
    assert naive.exceptAll(ours).count() == 0


def test_referential_integrity_tpch_edges_clean(spark):
    """The seven real FK edges audit clean; the deliberately-unconstrained
    events.user_id edge reports orphans > 0 (users outnumber customers only
    at tiny SF — so assert on the known-clean edges instead)."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        dq_referential_integrity,
    )

    pdf = dq_referential_integrity(spark, SF_ORACLE).toPandas().set_index("relation")
    for rel in pdf.index:
        if rel.startswith("events."):
            continue
        assert pdf.loc[rel, "n_orphans"] == 0, rel
    assert (pdf["n_child"] > 0).all()


def test_benford_probabilities_sum_to_one(spark):
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        dq_benford_first_digit,
    )

    pdf = dq_benford_first_digit(spark, SF_ORACLE).toPandas()
    assert set(pdf.digit) <= set(range(1, 10))
    assert abs(pdf.observed_p.sum() - 1.0) < 1e-12
    assert abs(pdf.expected_p.sum() - 1.0) < 1e-12


def test_contribution_percentages_consistent(spark):
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        contribution_pct_of_total,
    )

    pdf = contribution_pct_of_total(spark, SF_ORACLE).toPandas()
    assert abs(pdf.pct_of_global.sum() - 1.0) < 1e-9
    for _, grp in pdf.groupby("region_name"):
        assert abs(grp.pct_of_region.sum() - 1.0) < 1e-9


def test_rfm_quartiles_balanced(spark):
    """NTILE(4) over n customers puts ceil/floor(n/4) in each quartile."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        customer_rfm_segments,
    )

    pdf = customer_rfm_segments(spark, SF_ORACLE).toPandas()
    n = len(pdf)
    for col in ("r_score", "f_score", "m_score"):
        sizes = pdf[col].value_counts()
        assert set(sizes.index) == {1, 2, 3, 4}
        assert sizes.max() - sizes.min() <= 1, col
    assert (pdf.segment.str.len() == 3).all()
    assert n > 0


def test_hard_negatives_exclude_anchor_label(spark):
    """Every mined negative carries a label different from its anchor's, and
    per-anchor ranks are dense 1..k."""
    from airflow_cms_inpatient_etl_spark.queries.similarity import sim_hard_negatives

    e = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "label").toPandas()
    labels = dict(zip(e.vec_id, e.label))
    pdf = sim_hard_negatives(spark, SF_ORACLE).toPandas()
    for _, row in pdf.iterrows():
        assert labels[row.cid] != labels[row.qid]
    for _, grp in pdf.groupby("qid"):
        assert sorted(grp.rn) == list(range(1, len(grp) + 1))


def test_jaccard_hub_cap_bounds_wedge_volume(spark):
    """Skew canary: a star graph (one hub linked to 200 spokes, plus a few
    clique edges) must produce ZERO wedges through the hub once the hub
    exceeds the degree cap — the candidate volume stays bounded by cap^2
    instead of going quadratic in the hub degree."""
    from airflow_cms_inpatient_etl_spark.queries import curation2 as c2

    hub_edges = [(0, i) for i in range(1, 201)]  # hub degree 200 > cap 128
    clique = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    und = spark.createDataFrame(hub_edges + clique, "a long, b long")
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    eligible = deg.filter(F.col("degree") <= c2._JACC_HUB_CAP).select("node")
    capped = adj.join(eligible.withColumnRenamed("node", "nbr"), "nbr").select(
        "node", "nbr"
    )
    c1 = capped.select(F.col("node").alias("x"), "nbr")
    c2_ = capped.select(F.col("node").alias("y"), "nbr")
    wedges = c1.join(c2_, "nbr").filter(F.col("x") < F.col("y"))
    n_wedges = wedges.count()
    # without the cap the hub alone contributes C(200,2) = 19900 wedges
    assert n_wedges < c2._JACC_HUB_CAP**2
    # the clique's wedges (through eligible centers) survive
    assert n_wedges > 0


def test_ab_test_z_is_finite_and_split_is_stable(spark):
    from airflow_cms_inpatient_etl_spark.queries.analytics import events_ab_test_zscore

    row = events_ab_test_zscore(spark, SF_ORACLE).toPandas().iloc[0]
    assert row.n_a + row.n_b > 0
    assert 0 < row.p_a < 1 and 0 < row.p_b < 1
    assert row.z == row.z  # not NaN at this fixture
    again = events_ab_test_zscore(spark, SF_ORACLE).toPandas().iloc[0]
    assert row.equals(again)


def test_basket_rules_bounds_and_symmetry(spark):
    """Support/confidence/lift invariants: pair support never exceeds either
    item support, confidences are (0, 1], and lift is symmetric in the pair."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        basket_association_rules,
    )

    pdf = basket_association_rules(spark, SF_ORACLE).toPandas()
    assert len(pdf) > 0
    assert (pdf.n_ab <= pdf.n_a).all() and (pdf.n_ab <= pdf.n_b).all()
    assert ((pdf.conf_1_2 > 0) & (pdf.conf_1_2 <= 1)).all()
    assert ((pdf.conf_2_1 > 0) & (pdf.conf_2_1 <= 1)).all()
    # lift = conf_1_2 / P(b) = conf_2_1 / P(a) — same value either way
    alt = pdf.conf_2_1 * pdf.n_orders / pdf.n_a
    assert ((pdf.lift - alt).abs() < 1e-9).all()


def test_acf_within_bounds_and_lag_pairs_decrease(spark):
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        events_autocorrelation,
    )

    pdf = events_autocorrelation(spark, SF_ORACLE).toPandas().sort_values("lag")
    assert list(pdf.lag) == list(range(1, 8))
    assert ((pdf.acf >= -1 - 1e-12) & (pdf.acf <= 1 + 1e-12)).all()
    assert (pdf.n_pairs.diff().dropna() == -1).all()  # one fewer pair per lag


def test_dow_seasonality_weighted_mean_is_one(spark):
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        events_dow_seasonality,
    )

    pdf = events_dow_seasonality(spark, SF_ORACLE).toPandas()
    assert set(pdf.dow) <= set(range(1, 8))
    weighted = (pdf.seasonality_index * pdf.n).sum() / pdf.n.sum()
    assert abs(weighted - 1.0) < 1e-9


def test_basket_mega_basket_capped(spark):
    """Scale canary: one pathological 500-item basket must be dropped before
    the pair self-join (it alone would emit C(500,2) ≈ 125k pairs on one
    key); normal baskets keep their pairs."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import _MAX_BASKET

    # 200 normal baskets of 4 items over a 40-item catalog (co-purchases are
    # frequent), plus one mega-basket holding the whole 500-item catalog
    normal = spark.range(200).selectExpr(
        "id AS o", "explode(sequence(0, 3)) AS slot"
    ).selectExpr("o", "(o % 10) * 4 + slot AS p")
    mega = spark.range(500).selectExpr("CAST(9999 AS BIGINT) AS o", "id + 1000 AS p")
    raw = normal.unionByName(mega)

    from pyspark.sql import functions as F

    sized = (
        raw.groupBy("o")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _MAX_BASKET)
        .select("o")
    )
    items = raw.join(sized, "o")
    a = items.select("o", F.col("p").alias("p1"))
    b = items.select("o", F.col("p").alias("p2"))
    pairs = a.join(b, "o").filter(F.col("p1") < F.col("p2"))
    n_pairs = pairs.count()
    assert n_pairs == 200 * 6  # C(4,2) per surviving basket; mega contributed 0
    assert items.filter(F.col("o") == 9999).count() == 0


def test_mixture_plan_weights_and_budget(spark):
    """Weights sum to 1, expected tokens sum to the budget, and smaller
    languages get boosted shares (alpha < 1 flattens the distribution)."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        _MIX_BUDGET_TOKENS,
        corpus_mixture_plan,
    )

    pdf = corpus_mixture_plan(spark, SF_ORACLE).toPandas()
    assert abs(pdf.weight.sum() - 1.0) < 1e-12
    expected_tokens = (pdf.sampling_rate * pdf.n_tokens).sum()
    assert abs(expected_tokens - _MIX_BUDGET_TOKENS) < 1e-6
    # alpha-sampling property: share-of-weight vs share-of-mass is monotone
    # dampened — the largest language's weight share < its token share,
    # the smallest language's weight share > its token share
    pdf = pdf.sort_values("n_tokens")
    mass = pdf.n_tokens / pdf.n_tokens.sum()
    assert pdf.weight.iloc[0] > mass.iloc[0]
    assert pdf.weight.iloc[-1] < mass.iloc[-1]


@pytest.mark.slow
def test_streaming_session_window_eviction_append_mode(spark, tmp_path):
    """The production (append-mode) path: with a short watermark and event
    time advancing across micro-batches, closed sessions are EMITTED and
    their state evicted — the drained sink holds exactly the sessions whose
    end precedes the final watermark."""
    import pyspark.sql.functions as F

    from airflow_cms_inpatient_etl_spark.streaming.jobs import (
        run_stream_to_memory,
        stage_micro_batches,
    )

    # batch 1: two events at t0 (one session); batch 2: events 10 hours later
    # (watermark jumps past session 1's end -> session 1 must emit)
    rows = [
        (1, 1, "2024-01-01 00:00:00", 1.0),
        (1, 1, "2024-01-01 00:10:00", 2.0),
        (2, 1, "2024-01-01 10:00:00", 3.0),
    ]
    raw = stage_micro_batches(
        spark.createDataFrame(rows, "b int, user_id long, ts_s string, value double"),
        "b", [1, 2], str(tmp_path / "sess_stream"),
    )
    agg = (
        raw.withColumn("ts", F.to_timestamp("ts_s"))
        .withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    out = run_stream_to_memory(agg, output_mode="append").toPandas()
    # session 1 (2 events merged) closed and emitted; session 2 still open
    assert len(out) == 1
    assert out.iloc[0].n_events == 2


def test_modularity_two_cliques_hand_value(spark):
    """Two disjoint triangles labeled by decade blocks: each community
    contributes e_c/m - (d_c/2m)^2 = 3/6 - (6/12)^2 = 0.25, total Q = 0.5."""
    from airflow_cms_inpatient_etl_spark.queries import curation2 as c2

    rows = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    und = spark.createDataFrame(rows, "a long, b long")
    m = und.agg(F.count(F.lit(1)).alias("m_edges"))
    labeled = und.select(
        "a", "b", (F.col("a") / 10).cast("long").alias("ca"),
        (F.col("b") / 10).cast("long").alias("cb"),
    )
    intra = (
        labeled.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    adj = und.select((F.col("a") / 10).cast("long").alias("community")).unionAll(
        und.select((F.col("b") / 10).cast("long").alias("community"))
    )
    deg = adj.groupBy("community").agg(F.count(F.lit(1)).alias("d_c"))
    out = deg.join(intra, "community", "left").crossJoin(F.broadcast(m))
    half = F.col("d_c").cast("double") / (2 * F.col("m_edges"))
    q = F.col("e_c").cast("double") / F.col("m_edges") - half * half
    pdf = out.withColumn("q", q).toPandas()
    assert abs(pdf.q.sum() - 0.5) < 1e-12
    assert (pdf.q - 0.25).abs().max() < 1e-12


def test_modularity_fixture_bounds(spark):
    from airflow_cms_inpatient_etl_spark.queries.curation2 import graph_modularity

    pdf = graph_modularity(spark, SF_ORACLE).toPandas()
    total_q = pdf.q_contrib.sum()
    assert -1.0 <= total_q <= 1.0
    assert (pdf.e_c * 1 <= pdf.m_edges).all()
    # degree identity: sum of community degrees = 2m
    assert pdf.d_c.sum() == 2 * pdf.m_edges.iloc[0]


def test_assortativity_star_graph_is_minus_one(spark):
    """A star K(1,n) is perfectly disassortative: every stub pairs degree n
    with degree 1, so the degree correlation is exactly -1."""
    n = 12
    rows = [(0, i) for i in range(1, n + 1)]
    und = spark.createDataFrame(rows, "a long, b long")
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select("node", F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("nbr"), F.col("d").alias("y"))
    stubs = adj.join(da, "node").join(db, "nbr")
    s = stubs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    num = s.n * s.sxy - s.sx * s.sy
    den = ((s.n * s.sxx - s.sx**2) ** 0.5) * ((s.n * s.syy - s.sy**2) ** 0.5)
    assert abs(num / den + 1.0) < 1e-12


def test_assortativity_fixture_in_range(spark):
    from airflow_cms_inpatient_etl_spark.queries.curation2 import (
        graph_degree_assortativity,
    )

    row = graph_degree_assortativity(spark, SF_ORACLE).toPandas().iloc[0]
    assert -1.0 - 1e-12 <= row.assortativity <= 1.0 + 1e-12


def test_cas_chunk_dedup_hand_corpus(spark, monkeypatch, tmp_path):
    """Two identical 70-char payloads share all 3 aligned chunks (32+32+6):
    a CAS store would save exactly one full copy, 70 units."""
    import pandas as pd

    d = str(tmp_path)
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a" * 70, "a" * 70, "b" * 70],
            "lang": ["en"] * 3,
            "source": ["src1"] * 3,
            "n_chars": [70] * 3,
        }
    )
    docs.to_parquet(d + "/documents.parquet")
    from airflow_cms_inpatient_etl_spark.queries.multimodal import (
        multimodal_cas_chunk_dedup,
    )

    pdf = multimodal_cas_chunk_dedup(spark, d).toPandas()
    # "a"*32: 2 aligned offsets x 2 docs = 4 refs -> saves 3*32; "a"*6 tail:
    # 2 refs -> saves 6; doc3's two identical "b"*32 chunks dedup WITHIN the
    # doc (2 refs -> saves 32) — intra-payload dedup is real CAS savings
    assert pdf.saved.sum() == 3 * 32 + 6 + 32
    assert (pdf.n_refs >= 2).all()


def test_cdc_chunking_is_shift_robust(spark, tmp_path):
    """Insert a prefix into a copy of a document: fixed-width chunk frames
    all shift (near-zero shared chunks), but content-defined boundaries
    after the edit are untouched, so most of the copy's chunks still dedup
    against the original — the defining property of CDC storage."""
    import pandas as pd

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays on "
        "and the caravan moves through the silent desert night carrying gifts "
        "of salt and silver toward the distant harbor where ships wait under "
        "gray skies for the morning tide to turn and the wind to rise again"
    )
    d = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [base, "INSERTED PREFIX >> " + base],
            "lang": ["en", "en"],
            "source": ["src1", "src1"],
            "n_chars": [len(base), len(base) + 19],
        }
    ).to_parquet(d + "/documents.parquet")

    from airflow_cms_inpatient_etl_spark.queries.multimodal import (
        multimodal_cas_chunk_dedup,
        multimodal_cdc_chunk_dedup,
    )

    fixed = multimodal_cas_chunk_dedup(spark, d).toPandas()
    cdc = multimodal_cdc_chunk_dedup(spark, d).toPandas()
    fixed_saved = int(fixed.saved.sum()) if len(fixed) else 0
    cdc_saved = int(cdc.saved.sum()) if len(cdc) else 0
    # the 19-char prefix misaligns every 32-char frame -> fixed dedup finds
    # (almost) nothing; CDC recovers a large share of the duplicated text
    assert cdc_saved > fixed_saved
    assert cdc_saved >= len(base) // 3


def test_trigram_counts_consistent_with_markov_edges(spark):
    """Marginalizing trigrams over t1 can never exceed the corresponding
    (t2 -> t3) bigram count (every trigram embeds that transition)."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        events_markov_transitions,
        events_path_trigrams,
    )

    tri = events_path_trigrams(spark, SF_ORACLE).toPandas()
    bi = events_markov_transitions(spark, SF_ORACLE).toPandas()
    bi_idx = {(r.from_type, r.to_type): r.n for r in bi.itertuples()}
    marg = tri.groupby(["t2", "t3"]).n.sum()
    for (t2, t3), n in marg.items():
        assert n <= bi_idx[(t2, t3)]
    assert (tri.sort_values("rnk").n.diff().dropna() <= 0).all()


def test_bounce_rate_bounds_and_session_conservation(spark):
    """Rates live in [0,1]; bounces never exceed sessions; total session
    count equals the session-window query's row count (same 30-min gap)."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        events_bounce_rate_daily,
    )
    from airflow_cms_inpatient_etl_spark.queries.timeseries import (
        events_session_window,
    )

    pdf = events_bounce_rate_daily(spark, SF_ORACLE).toPandas()
    assert ((pdf.bounce_rate >= 0) & (pdf.bounce_rate <= 1)).all()
    assert (pdf.n_bounces <= pdf.n_sessions).all()
    n_sessions_ref = events_session_window(spark, SF_ORACLE).count()
    assert pdf.n_sessions.sum() == n_sessions_ref


# --------------------------------------------------------------------------- #
# source formats: native XML + text; RocksDB state store                       #
# --------------------------------------------------------------------------- #


def test_xml_roundtrip_preserves_rows(spark, tmp_path):
    """Spark 4's native XML source (SPARK-44751): write/read roundtrip with
    rowTag, values and row count preserved."""
    from airflow_cms_inpatient_etl_spark.sources.files import read_xml, write_xml

    df = spark.range(20).selectExpr(
        "id", "concat('name-', id) AS name", "id * 10 AS score"
    )
    p = str(tmp_path / "xml_out")
    write_xml(df, p)
    back = read_xml(spark, p).select("id", "name", "score")
    assert back.count() == 20
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_text_lines_roundtrip(spark, tmp_path):
    from airflow_cms_inpatient_etl_spark.sources.files import read_text_lines

    p = str(tmp_path / "txt_out")
    spark.range(7).selectExpr("concat('line ', id) AS value").write.format(
        "text"
    ).save(p)
    got = read_text_lines(spark, p)
    assert got.columns == ["value"]
    assert got.count() == 7


ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
}


@pytest.mark.slow
def test_session_windows_identical_under_rocksdb_state_store(spark, tmp_path):
    """The 100 TB state backend: the same session-window stream drained under
    RocksDBStateStoreProvider (spillable, incremental-checkpoint state)
    yields byte-identical results to the default HDFS-backed provider —
    switching providers is a pure config change, which is the point."""
    import shutil

    import pyspark.sql.functions as F

    from airflow_cms_inpatient_etl_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_events,
    )

    stage = str(tmp_path / "events_in")
    import os

    os.makedirs(stage)
    shutil.copy("/root/testdata/sf0.001/events.parquet", stage + "/part-0.parquet")

    def drain():
        agg = (
            stream_events(spark, stage)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            )
        )
        return run_stream_to_memory(agg, output_mode="complete")

    default = drain()
    with scoped_conf(spark, ROCKSDB_CONF):
        rocks = drain()
        assert default.count() > 0
        assert default.exceptAll(rocks).count() == 0
        assert rocks.exceptAll(default).count() == 0


def test_transform_with_state_profile_matches_legacy_and_batch(spark):
    """Spark-4 transformWithStateInPandas (typed ValueState, RocksDB-backed
    by requirement) produces the same final per-user profile as the legacy
    applyInPandasWithState operator and the batch aggregate.

    Environment gate (same policy as the Avro classpath gate): the
    transformWithState state-server protocol speaks protobuf, so the
    `protobuf` Python package must be importable; skip with a clear reason
    where it is not (this container ships without it)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithState needs the protobuf package (not in this container)",
    )
    import shutil, tempfile

    from airflow_cms_inpatient_etl_spark.streaming.jobs import (
        run_stream_to_memory,
        stream_events,
    )
    from airflow_cms_inpatient_etl_spark.streaming.stateful import (
        running_user_profile_tws,
    )

    stage = tempfile.mkdtemp(prefix="tws_")
    shutil.copy("/root/testdata/sf0.001/events.parquet", stage + "/part-0.parquet")
    try:
        with scoped_conf(spark, ROCKSDB_CONF):
            drained = run_stream_to_memory(
                running_user_profile_tws(stream_events(spark, stage)),
                output_mode="update",
            )
            got = {
                r["user_id"]: (r["n_events"], round(r["sum_value"], 2))
                for r in drained.collect()
            }
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    batch = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    expected = {r["user_id"]: (r["n"], round(r["s"], 2)) for r in batch.collect()}
    assert got == expected


def test_mom_growth_identities(spark):
    """Growth recomputed from the revenue column itself must match, first
    month is NULL, and 12-month lag only exists once a year has passed."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import orders_mom_growth

    pdf = orders_mom_growth(spark, SF_ORACLE).toPandas().sort_values("month_start")
    assert pdf.mom_growth.isna().iloc[0]
    recomputed = pdf.revenue / pdf.revenue.shift(1) - 1
    both = pdf.mom_growth.notna()
    assert ((pdf.mom_growth[both] - recomputed[both]).abs() < 1e-12).all()
    assert pdf.yoy_growth.isna().iloc[:12].all()
    assert pdf.yoy_growth.notna().iloc[12:].all()


def test_rolling_actives_monotone_and_bounded(spark):
    """DAU <= WAU <= MAU per day, and each is bounded by the user universe."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        events_rolling_active_users,
    )

    pdf = events_rolling_active_users(spark, SF_ORACLE).toPandas()
    assert (pdf.dau <= pdf.wau).all() and (pdf.wau <= pdf.mau).all()
    n_users = (
        load_table(spark, SF_ORACLE, "events").select("user_id").distinct().count()
    )
    assert (pdf.mau <= n_users).all()
    assert pdf.mau.max() == n_users  # 30-day trail covers the whole fixture span


def test_kaplan_meier_matches_pandas_reference(spark):
    """Recompute the KM curve independently in pandas from the raw events and
    compare value-for-value; also assert monotone non-increasing survival."""
    import pandas as pd

    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        _KM_HORIZON_H,
        events_survival_time_to_convert,
    )

    got = (
        events_survival_time_to_convert(spark, SF_ORACLE)
        .toPandas()
        .sort_values("hours_to_convert")
        .reset_index(drop=True)
    )
    ev = load_table(spark, SF_ORACLE, "events").select(
        "user_id", "ts", "event_type"
    ).toPandas()
    t0 = ev.groupby("user_id").ts.min()
    tp = ev[ev.event_type == "purchase"].groupby("user_id").ts.min()
    dur_h = ((tp - t0).dt.total_seconds() // 3600).reindex(t0.index)
    event = dur_h.notna() & (dur_h <= _KM_HORIZON_H)
    t = dur_h.where(event, _KM_HORIZON_H).astype(int)
    rows = pd.DataFrame({"t": t, "e": event.astype(int)})
    surv, at_risk, out = 1.0, len(rows), {}
    for ti in sorted(rows.t.unique()):
        d = int(rows[(rows.t == ti) & (rows.e == 1)].shape[0])
        c = int(rows[(rows.t == ti) & (rows.e == 0)].shape[0])
        if d > 0:
            surv *= 1 - d / at_risk
            out[ti] = (at_risk, d, c, surv)
        at_risk -= d + c
    ref = pd.DataFrame(
        [(k, *v) for k, v in out.items()],
        columns=["t", "n_at_risk", "n_converted", "n_censored", "survival"],
    ).sort_values("t").reset_index(drop=True)
    assert list(got.hours_to_convert) == list(ref.t)
    assert list(got.n_at_risk) == list(ref.n_at_risk)
    assert list(got.n_converted) == list(ref.n_converted)
    assert (got.survival - ref.survival).abs().max() < 1e-12
    assert (got.survival.diff().dropna() <= 0).all()
    assert ((got.survival > 0) & (got.survival <= 1)).all()


def test_acf_and_cdc_chunker_survive_degenerate_inputs(spark, tmp_path):
    """Regression for the sequence(1, 0)-is-descending class: a series
    shorter than the max lag emits only valid lags (NULL acf where variance
    is zero), and sub-gram-width payloads chunk as one whole-doc chunk —
    both hash-equal to DuckDB instead of crashing under ANSI."""
    import duckdb
    import pandas as pd

    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
    from tests.conftest import assert_frames_match

    d = str(tmp_path)
    pd.DataFrame(
        {
            "event_id": range(3),
            "ts": pd.to_datetime(
                ["2024-01-01 01:00", "2024-01-02 01:00", "2024-01-03 01:00"]
            ),
            "user_id": [1, 1, 1],
            "event_type": ["view"] * 3,
            "value": [1.0, 2.0, 3.0],
            "props": ['{"k": 1}'] * 3,
        }
    ).to_parquet(d + "/events.parquet")
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["abc", "abc", "a much longer document body here"],
            "lang": ["en"] * 3,
            "source": ["src1"] * 3,
            "n_chars": [3, 3, 32],
        }
    ).to_parquet(d + "/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    for name in ("events_autocorrelation", "multimodal_cdc_chunk_dedup"):
        spec = QUERY_REGISTRY[name]
        assert_frames_match(
            spec.fn(spark, d).toPandas(), con.execute(spec.oracle).df(), name
        )
    acf = QUERY_REGISTRY["events_autocorrelation"].fn(spark, d).toPandas()
    assert sorted(acf.lag) == [1, 2]  # lags beyond the series are dropped


def test_item_item_cf_symmetry_and_rank(spark):
    """Cosine is symmetric (sim(i,j) == sim(j,i) whenever both directions
    survive the support floor) and per-item ranks are dense from 1."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        recsys_item_item_cosine,
    )

    pdf = recsys_item_item_cosine(spark, SF_ORACLE).toPandas()
    sim = {(r.item, r.neighbor): r.cosine for r in pdf.itertuples()}
    checked = 0
    for (i, j), c in sim.items():
        if (j, i) in sim:
            assert abs(sim[(j, i)] - c) < 1e-15
            checked += 1
    assert checked > 0
    for _, grp in pdf.groupby("item"):
        assert sorted(grp.rn) == list(range(1, len(grp) + 1))
    assert ((pdf.cosine > 0) & (pdf.cosine <= 1)).all()


def test_bpe_top_pair_matches_python_reference(spark):
    """Recompute the BPE pair counts in plain Python over the same corpus
    and compare the full top-20 (count + lexicographic tie-break)."""
    from collections import Counter

    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        _BPE_TOPK,
        bpe_merge_candidates,
    )

    docs = load_table(spark, SF_ORACLE, "documents").select("text").toPandas()
    wc = Counter()
    for t in docs.text:
        for w in t.strip().lower().split():
            if len(w) > 1:
                wc[w] += 1
    pc = Counter()
    for w, f in wc.items():
        for i in range(len(w) - 1):
            pc[w[i : i + 2]] += f
    ref = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_TOPK]
    got = (
        bpe_merge_candidates(spark, SF_ORACLE)
        .toPandas()
        .sort_values("rnk")[["pair", "n"]]
        .itertuples(index=False)
    )
    assert [(p, n) for p, n in got] == ref


def test_leadtime_percentiles_ordered(spark):
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        orders_leadtime_percentiles,
    )

    pdf = orders_leadtime_percentiles(spark, SF_ORACLE).toPandas()
    assert (pdf.p50 <= pdf.p90).all() and (pdf.p90 <= pdf.p99).all()
    assert (pdf.p99 <= pdf.max_days).all()
    assert pdf.n.sum() == load_table(spark, SF_ORACLE, "lineitem").count()


def test_repurchase_shares_sum_to_one(spark):
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        customer_repurchase_intervals,
    )

    pdf = customer_repurchase_intervals(spark, SF_ORACLE).toPandas()
    assert abs(pdf.share.sum() - 1.0) < 1e-12
    assert (pdf.gap_months_bucket >= 0).all()
    # gap count identity: orders minus one per multi-order customer
    o = load_table(spark, SF_ORACLE, "orders")
    n_orders = o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert pdf.n.sum() == n_orders - n_cust


def test_readability_hand_doc(spark, tmp_path):
    """One hand-checkable sentence: 'the cat sat on the mat.' = 6 words,
    1 sentence, 6 vowel groups -> flesch = 206.835 - 1.015*6 - 84.6*1."""
    import pandas as pd

    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        text_readability_scores,
    )

    d = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1],
            "text": ["the cat sat on the mat."],
            "lang": ["en"],
            "source": ["src1"],
            "n_chars": [23],
        }
    ).to_parquet(d + "/documents.parquet")
    row = text_readability_scores(spark, d).toPandas().iloc[0]
    assert (row.n_words, row.n_sentences, row.n_syllables) == (6, 1, 6)
    assert abs(row.flesch - (206.835 - 1.015 * 6 - 84.6 * 1)) < 1e-12


def test_column_drift_rates_match_key_classes(spark):
    """The derived snapshot mutates status on keys ≡3 and price on keys ≡1
    (mod 97, among surviving keys): each column's changed count must equal
    its key class size exactly."""
    from airflow_cms_inpatient_etl_spark.queries.cdc import (
        snapshot_column_drift_profile,
    )

    pdf = (
        snapshot_column_drift_profile(spark, SF_ORACLE)
        .toPandas()
        .set_index("column_name")
    )
    o = load_table(spark, SF_ORACLE, "orders")
    n_status = o.filter((F.col("o_orderkey") % 97) == 3).count()
    n_price = o.filter((F.col("o_orderkey") % 97) == 1).count()
    assert pdf.loc["o_orderstatus", "n_changed"] == n_status
    assert pdf.loc["o_totalprice", "n_changed"] == n_price
    assert (pdf.n_compared == pdf.n_compared.iloc[0]).all()
