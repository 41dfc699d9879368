"""Behavioral / DQ analytics the reference's warehouse users run downstream of
the ETL (reference surface: `dags/patient_claims_plus_postgres.py:160-190`
materializes a star-ish claims table precisely so analysts can run this class
of query): gaps-and-islands, time-weighted averages, cohort retention, Markov
transitions, sliding distinct counts, referential-integrity audits, Benford
DQ, contribution analysis, RFM segmentation and an A/B z-test.

Determinism contract (same doctrine as `functions.exact`): every emitted value
is either an integer/date, a decimal-exact sum cast to double, or a single
IEEE-deterministic double operation (one division / one sqrt) over
engine-identical inputs — so all queries here are hash-exact against DuckDB.
"""

from __future__ import annotations

import math

from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_cms_inpatient_etl_spark.functions.exact import dec
from airflow_cms_inpatient_etl_spark.operators.text import bpe_train, hash60, unigram_viterbi_segment
from airflow_cms_inpatient_etl_spark.operators.stages import temperature_mixture
from airflow_cms_inpatient_etl_spark.queries.base import fill_doc, register
from airflow_cms_inpatient_etl_spark.queries.sketch_oracles import QDIGEST_QUANTILES_ORACLE
from airflow_cms_inpatient_etl_spark.sources.registry import load_table, snapshot, spread_scan



# --------------------------------------------------------------------------- #
# events_gaps_islands — consecutive-activity runs per user                     #
# --------------------------------------------------------------------------- #


@register(
    "events_gaps_islands",
    oracle="""
    WITH days AS (SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day FROM events),
    numbered AS (
        SELECT user_id, day,
               DATEDIFF('day', TIMESTAMP '2024-01-01', day)
                 - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        FROM days
    )
    SELECT user_id, MIN(day) AS island_start, MAX(day) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM numbered GROUP BY user_id, grp
    """,
)
def events_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive active days per user via
    the classic day-number-minus-row-number grouping key.  Two shuffles total
    (distinct + the user-keyed window); the island groupBy reuses the window's
    user partitioning under AQE.  Scales as O(distinct user-days)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    grp = (
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        - F.row_number().over(w)
    )
    return (
        days.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("island_start"),
            F.max("day").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select("user_id", "island_start", "island_end", "n_days")
    )


# --------------------------------------------------------------------------- #
# events_time_weighted_avg — LOCF integral average (TimescaleDB time_weight)   #
# --------------------------------------------------------------------------- #


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH seg AS (
        SELECT user_id,
               CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
               LEAD(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 - EPOCH_US(ts) AS dur_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(CAST(SUM(cents * dur_us) AS BIGINT) AS DOUBLE) / 100
             / CAST(SUM(dur_us) AS BIGINT) AS twa_value
    FROM seg WHERE dur_us > 0 GROUP BY user_id
    """,
)
def events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per user with last-observation-carried-forward
    weighting: each event's value holds until the next event, so the weight is
    the microsecond gap to the successor (lead over the user timeline).  The
    numerator is kept as an exact int64 (2-dp cents x microseconds): int64 ->
    double conversion is correctly rounded in every engine, whereas a
    wide-decimal numerator would hit DuckDB's two-step (hugeint-then-scale)
    conversion and drift a ulp.  Overflow bound: cents * total span
    must stay < 2^63 — ~3e18 at 100k-cent values over a year-long user
    timeline, inside the bound, and Spark's ANSI mode makes any breach loud.
    One window shuffle + one groupBy that reuses the same user partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    cents = (F.col("value").cast(T.DecimalType(14, 2)) * 100).cast("long")
    seg = ev.select(
        "user_id",
        cents.alias("cents"),
        (F.lead(us).over(w) - us).alias("dur_us"),
    ).filter(F.col("dur_us") > 0)
    return seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("dur_us").alias("total_dur_us"),
        (
            F.sum(F.col("cents") * F.col("dur_us")).cast("double")
            / 100
            / F.sum("dur_us")
        ).alias("twa_value"),
    )


# --------------------------------------------------------------------------- #
# events_markov_transitions — first-order behavior transition matrix           #
# --------------------------------------------------------------------------- #


@register(
    "events_markov_transitions",
    oracle="""
    WITH tr AS (
        SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS from_type,
               event_type AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM tr WHERE from_type IS NOT NULL GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
    FROM counts
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event sequences:
    LAG pairs -> transition counts -> row-normalized probabilities.  The
    probability is a ratio of two bigints (both < 2^53, so the double division
    is engine-exact).  The transition matrix is |event_types|^2 rows — tiny —
    so the normalizing window runs on the already-aggregated counts."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = tr.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    norm = W.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(norm)).alias("p"),
    )


# --------------------------------------------------------------------------- #
# events_cohort_retention — weekly signup-cohort retention matrix              #
# --------------------------------------------------------------------------- #


@register(
    "events_cohort_retention",
    oracle="""
    WITH wk AS (
        SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS wk
        FROM events
    ),
    first_wk AS (SELECT user_id, MIN(wk) AS cohort_week FROM wk GROUP BY user_id)
    SELECT f.cohort_week,
           CAST(DATEDIFF('day', f.cohort_week, w.wk) / 7 AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM wk w JOIN first_wk f ON w.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-active ISO week, counted
    in each subsequent week they return.  Both the per-user min and the final
    count run on the distinct (user, week) pairs — O(users x weeks), far below
    the event volume — and the cohort join is user-keyed, co-partitioned with
    the min-aggregate's shuffle.  week_offset is exact integer arithmetic on
    Monday-aligned dates (both engines truncate weeks to Monday)."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    first = wk.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    joined = wk.join(first, "user_id")
    offset = (F.datediff("wk", "cohort_week") / 7).cast("int")
    return (
        joined.select("cohort_week", offset.alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --------------------------------------------------------------------------- #
# window_sliding_distinct_users — exact distinct-count over sliding windows    #
# --------------------------------------------------------------------------- #


@register(
    "window_sliding_distinct_users",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT user_id, TIME_BUCKET(INTERVAL '5 minutes', ts) AS s
        FROM events
    ),
    expanded AS (
        SELECT user_id, s - (k * INTERVAL '5 minutes') AS window_start
        FROM pairs,
             (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11)) AS offs(k)
    )
    SELECT window_start, window_start + INTERVAL '60 minutes' AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM expanded GROUP BY 1
    """,
)
def window_sliding_distinct_users(spark, sf_dir):
    """Exact distinct users per sliding 60-minute window (5-minute slide).
    Spark forbids DISTINCT aggregates over window frames, and the obvious
    dedup-then-expand plan (each distinct (user, bucket) pair fanned into its
    12 covering windows + one distinct agg) shuffles 12x the pair volume —
    so this runs as a SWEEP LINE instead: per user, merge bucket indices
    into runs (gap > 12 buckets splits coverage), each run [a, b] covers
    windows [a-11, b] and emits just TWO delta rows (+1 at a-11, -1 at b+1);
    summing deltas per position and prefix-summing over the CALENDAR-bounded
    position axis (one 5-min slot per wall-clock slot — ~105k/year, tiny
    regardless of data volume) yields every window's exact distinct count.
    Shuffle volume is O(runs), not 12x pairs — measured 2.3x faster at
    sf0.1 and asymptotically better; `tests/test_round6.py` asserts exact
    equality with the naive per-window distinct."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id",
        (F.unix_seconds(F.window("ts", "5 minutes")["start"]) / 300)
        .cast("long")
        .alias("i"),
    ).distinct()
    uw = W.partitionBy("user_id").orderBy("i")
    new_run = (
        F.when(F.col("i") - F.lag("i").over(uw) > 12, 1)
        .when(F.lag("i").over(uw).isNull(), 1)
        .otherwise(0)
    )
    runs = (
        pairs.withColumn("nr", new_run)
        .withColumn(
            "run_id",
            F.sum("nr").over(uw.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        .groupBy("user_id", "run_id")  # co-partitioned with the user window
        .agg(F.min("i").alias("a"), F.max("i").alias("b"))
    )
    deltas = runs.select((F.col("a") - 11).alias("pos"), F.lit(1).alias("d")).unionAll(
        runs.select((F.col("b") + 1).alias("pos"), F.lit(-1).alias("d"))
    )
    agg = deltas.groupBy("pos").agg(F.sum("d").alias("d"))
    ow = W.orderBy("pos")  # calendar-bounded: safe as a single partition
    cum = agg.withColumn(
        "cnt", F.sum("d").over(ow.rowsBetween(W.unboundedPreceding, W.currentRow))
    ).withColumn("next_pos", F.lead("pos").over(ow))
    seg = cum.filter((F.col("cnt") > 0) & F.col("next_pos").isNotNull())
    out = seg.select(
        F.explode(F.sequence("pos", F.col("next_pos") - 1)).alias("wi"),
        F.col("cnt").alias("n_users"),
    )
    return out.select(
        F.timestamp_seconds(F.col("wi") * 300).alias("window_start"),
        F.timestamp_seconds(F.col("wi") * 300 + 3600).alias("window_end"),
        "n_users",
    )


# --------------------------------------------------------------------------- #
# dq_referential_integrity — orphan audit across every FK edge                 #
# --------------------------------------------------------------------------- #

_FK_EDGES = [
    # (label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    # deliberately unconstrained edge: event actors are NOT customer keys,
    # so this row demonstrates a nonzero orphan count.
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
]


def _fk_oracle() -> str:
    parts = []
    for label, child, ckey, parent, pkey in _FK_EDGES:
        parts.append(
            f"""
    SELECT '{label}' AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM (SELECT {ckey} AS k FROM {child} WHERE {ckey} IS NOT NULL) c
    LEFT JOIN (SELECT DISTINCT {pkey} AS k FROM {parent}) p ON c.k = p.k"""
        )
    return "\n    UNION ALL".join(parts)


@register("dq_referential_integrity", oracle=_fk_oracle())
def dq_referential_integrity(spark, sf_dir):
    """Referential-integrity audit: one row per foreign-key edge of the star
    schema with child cardinality and orphan count (child keys missing from
    the parent).  Each edge is a single left join against the parent's
    distinct key set + one aggregate — Catalyst broadcasts the small parents
    (nation/region/customer) and shuffle-joins the big ones, which is exactly
    the 100 TB shape (the lineitem->orders edge is a co-partitioned key join,
    never a collect).  The last edge is intentionally unconstrained so the
    audit demonstrates a nonzero finding."""
    out = None
    for label, child, ckey, parent, pkey in _FK_EDGES:
        c = (
            load_table(spark, sf_dir, child)
            .select(F.col(ckey).alias("k"))
            .filter(F.col("k").isNotNull())
        )
        p = load_table(spark, sf_dir, parent).select(F.col(pkey).alias("k")).distinct()
        joined = c.join(p.withColumn("hit", F.lit(1)), "k", "left")
        row = joined.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select(F.lit(label).alias("relation"), "n_child", "n_orphans")
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------------------------------------------------------- #
# dq_benford_first_digit — first-significant-digit distribution audit          #
# --------------------------------------------------------------------------- #

# log10(1 + 1/d) literals shared verbatim by both engines: repr() emits the
# shortest round-tripping decimal, and IEEE-754 literal parsing is correctly
# rounded everywhere, so both sides materialize the identical double.
_BENFORD = {d: repr(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}


@register(
    "dq_benford_first_digit",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
        FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
        SELECT CAST(SUBSTRING(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit FROM cents
    ),
    counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    )
    SELECT digit, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS BIGINT) AS observed_p,
           CASE digit {' '.join(f'WHEN {d} THEN CAST({lit} AS DOUBLE)' for d, lit in _BENFORD.items())}
           END AS expected_p
    FROM counts
    """,
)
def dq_benford_first_digit(spark, sf_dir):
    """Benford's-law first-digit audit over order totals: observed share of
    each leading significant digit next to the theoretical log10(1+1/d).
    The digit is extracted from exact integer cents (decimal cast then x100)
    so no cross-engine float formatting is involved, and the expected values
    are shared literal doubles — the whole result is hash-exact.  Single
    scan, 9-row aggregate; the window normalization runs on 9 rows."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = (F.col("o_totalprice").cast(T.DecimalType(14, 2)) * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    expr = None
    for d, lit in _BENFORD.items():
        expr = (
            F.when(F.col("digit") == d, F.lit(float(lit)))
            if expr is None
            else expr.when(F.col("digit") == d, F.lit(float(lit)))
        )
    return counts.select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(W.partitionBy())).alias(
            "observed_p"
        ),
        expr.alias("expected_p"),
    )


# --------------------------------------------------------------------------- #
# contribution_pct_of_total — share-of-region / share-of-global revenue        #
# --------------------------------------------------------------------------- #


@register(
    "contribution_pct_of_total",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region_name, n.n_name AS nation_name,
               SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6)))
                 AS revenue_dec
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region_name, nation_name,
           CAST(revenue_dec AS DOUBLE) AS revenue,
           CAST(revenue_dec AS DOUBLE)
             / CAST(SUM(revenue_dec) OVER (PARTITION BY region_name) AS DOUBLE)
             AS pct_of_region,
           CAST(revenue_dec AS DOUBLE)
             / CAST(SUM(revenue_dec) OVER () AS DOUBLE) AS pct_of_global
    FROM rev
    """,
)
def contribution_pct_of_total(spark, sf_dir):
    """Contribution analysis: per-nation revenue with share-of-region and
    share-of-global ratios.  The heavy part is one partial-aggregated
    fact-side groupBy after broadcast dimension joins (customer/nation/region
    are all sub-threshold); the two window sums then run on the 25-row
    aggregate.  Decimal-exact sums; each pct is one double division over
    engine-identical operands."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev_dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        T.DecimalType(27, 6)
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.sum(rev_dec).alias("revenue_dec"))
    )
    region_w = W.partitionBy("region_name")
    global_w = W.partitionBy()
    rev_d = F.col("revenue_dec").cast("double")
    return rev.select(
        "region_name",
        "nation_name",
        rev_d.alias("revenue"),
        (rev_d / F.sum("revenue_dec").over(region_w).cast("double")).alias(
            "pct_of_region"
        ),
        (rev_d / F.sum("revenue_dec").over(global_w).cast("double")).alias(
            "pct_of_global"
        ),
    )


# --------------------------------------------------------------------------- #
# customer_rfm_segments — quartile RFM segmentation                            #
# --------------------------------------------------------------------------- #

_RFM_REF_DATE = "2001-12-31"
_RFM_SHARDS = 32


@register(
    "customer_rfm_segments",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey AS custkey,
               DATEDIFF('day', CAST(MAX(o_orderdate) AS DATE), DATE '{_RFM_REF_DATE}')
                 AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS monetary_dec
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT custkey, recency_days, n_orders,
               CAST(monetary_dec AS DOUBLE) AS monetary,
               NTILE(4) OVER (ORDER BY recency_days ASC, custkey) AS r_score,
               NTILE(4) OVER (ORDER BY n_orders DESC, custkey) AS f_score,
               NTILE(4) OVER (ORDER BY monetary_dec DESC, custkey) AS m_score
        FROM base
    )
    SELECT custkey, recency_days, n_orders, monetary, r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS segment
    FROM scored
    """,
)
def customer_rfm_segments(spark, sf_dir):
    """RFM segmentation: per-customer recency / frequency / monetary quartiles
    (NTILE over fully-tiebroken orderings, so ranks are deterministic)
    composed into a 3-digit segment label.

    Plan — the customer-grain aggregate is SF-proportional (every customer,
    ~1.5B rows at 100 TB), so the three global NTILEs are NOT single-
    partition windows (the one-task sort this query shipped through round
    15's opening; the oracle still runs the naive form, so the hash match
    proves the decomposition exact).  Each quartile decomposes by the
    sharded-rank identity (`global_rank_via_sharding` /
    `orders_pareto_skyline`):

      1. each ordering is normalized to an ASCENDING integer key (negated
         counts / exact monetary micros for the DESC orderings — decimal
         scale 6 makes *1e6 exact, and max |key| ~6e12 keeps (key-lo)*32
         far inside int64);
      2. one broadcast row carries per-key (lo, hi) and the customer count;
         value-range sharding into 32 shards is a pure expression;
      3. per-shard counts -> cross-shard prefix offsets via a 32x32
         broadcast self-join (never a fact-sized exchange);
      4. global rank = offset + row_number inside 32 INDEPENDENT
         partitioned windows; NTILE(4) is then pure arithmetic on
         (rank, n): the first n%4 tiles take ceil(n/4) rows, the rest
         floor(n/4) — ANSI semantics, replicated exactly.

    Value-range sharding balances when keys spread over their range; a
    massive single-value tie-group (all customers the same order count)
    degrades to fewer effective shards but stays exact — the count-
    balanced boundary machinery of `corpus_range_shards` is the drop-in
    remedy documented for that shape."""
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(_RFM_REF_DATE).cast("date"), F.max(F.col("o_orderdate").cast("date"))
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(T.DecimalType(27, 6))).alias("monetary_dec"),
    )
    from airflow_cms_inpatient_etl_spark.sources.registry import snapshot

    keyed = base.select(
        "custkey",
        "recency_days",
        "n_orders",
        "monetary_dec",
        F.col("recency_days").cast("long").alias("rk"),
        (-F.col("n_orders")).cast("long").alias("fk"),
        (-F.expr("CAST(monetary_dec * 1000000 AS BIGINT)")).alias("mk"),
    )
    keyed = snapshot(keyed)  # range agg + shard assignment both read it
    rng = keyed.agg(
        F.min("rk").alias("rk_lo"),
        F.max("rk").alias("rk_hi"),
        F.min("fk").alias("fk_lo"),
        F.max("fk").alias("fk_hi"),
        F.min("mk").alias("mk_lo"),
        F.max("mk").alias("mk_hi"),
        F.count(F.lit(1)).alias("n"),
    )
    sharded = keyed.crossJoin(F.broadcast(rng)).select(
        "custkey",
        "recency_days",
        "n_orders",
        "monetary_dec",
        "rk",
        "fk",
        "mk",
        "n",
        F.expr(f"((rk - rk_lo) * {_RFM_SHARDS}) div (rk_hi - rk_lo + 1)").alias("rs"),
        F.expr(f"((fk - fk_lo) * {_RFM_SHARDS}) div (fk_hi - fk_lo + 1)").alias("fs"),
        F.expr(f"((mk - mk_lo) * {_RFM_SHARDS}) div (mk_hi - mk_lo + 1)").alias("ms"),
    )
    sharded = snapshot(sharded)  # three count-aggs + the ranked select read it

    def _offsets(shard_col: str, out: str):
        cnt = sharded.groupBy(F.col(shard_col).alias("shard")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        return (
            cnt.alias("a")
            .join(F.broadcast(cnt.alias("b")), F.col("b.shard") < F.col("a.shard"), "left")
            .groupBy(F.col("a.shard").alias(shard_col))
            .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).cast("long").alias(out))
        )

    ranked = (
        sharded.join(F.broadcast(_offsets("rs", "r_off")), "rs")
        .join(F.broadcast(_offsets("fs", "f_off")), "fs")
        .join(F.broadcast(_offsets("ms", "m_off")), "ms")
        .select(
            "custkey",
            "recency_days",
            "n_orders",
            "monetary_dec",
            "n",
            (
                F.col("r_off")
                + F.row_number().over(W.partitionBy("rs").orderBy("rk", "custkey"))
            ).alias("r_rank"),
            (
                F.col("f_off")
                + F.row_number().over(W.partitionBy("fs").orderBy("fk", "custkey"))
            ).alias("f_rank"),
            (
                F.col("m_off")
                + F.row_number().over(W.partitionBy("ms").orderBy("mk", "custkey"))
            ).alias("m_rank"),
        )
    )

    def _ntile4(rank: str):
        # ANSI NTILE(4): q = n div 4, r = n mod 4; tiles 1..r take q+1 rows,
        # tiles r+1..4 take q (q >= 1 whenever the second branch is reached).
        return F.expr(
            f"CASE WHEN {rank} <= (n % 4) * ((n div 4) + 1) "
            f"THEN ({rank} - 1) div ((n div 4) + 1) + 1 "
            f"ELSE (n % 4) + 1 + ({rank} - (n % 4) * ((n div 4) + 1) - 1) div (n div 4) "
            f"END"
        ).cast("int")

    scored = ranked.select(
        "custkey",
        "recency_days",
        "n_orders",
        F.col("monetary_dec").cast("double").alias("monetary"),
        _ntile4("r_rank").alias("r_score"),
        _ntile4("f_rank").alias("f_score"),
        _ntile4("m_rank").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


# --------------------------------------------------------------------------- #
# events_ab_test_zscore — two-proportion z-test over a hash split              #
# --------------------------------------------------------------------------- #


@register(
    "events_ab_test_zscore",
    oracle="""
    WITH assigned AS (
        SELECT DISTINCT user_id,
               CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                 % 2 AS variant
        FROM events
    ),
    first_ts AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
    converted AS (
        SELECT DISTINCT e.user_id
        FROM events e JOIN first_ts f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase' AND e.ts <= f.t0 + INTERVAL '1 hour'
    ),
    per_variant AS (
        SELECT a.variant,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_converted
        FROM assigned a LEFT JOIN converted c ON a.user_id = c.user_id
        GROUP BY a.variant
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN variant = 0 THEN n_users END) AS n_a,
            MAX(CASE WHEN variant = 0 THEN n_converted END) AS conv_a,
            MAX(CASE WHEN variant = 1 THEN n_users END) AS n_b,
            MAX(CASE WHEN variant = 1 THEN n_converted END) AS conv_b
        FROM per_variant
    )
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(conv_a AS DOUBLE) / n_a AS p_a,
           CAST(conv_b AS DOUBLE) / n_b AS p_b,
           CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL
                ELSE (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                     / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
           END AS z
    FROM wide
    """,
)
def events_ab_test_zscore(spark, sf_dir):
    """Two-proportion z-test between the two arms of a deterministic hash
    split (portable md5 hash mod 2, the same split family
    `split_train_test_hash` uses); conversion = first 'purchase' within one
    hour of the user's first activity, a funnel metric that stays mid-range
    instead of saturating.  All counts are exact; p-hats and the pooled z are
    double ops over engine-identical operands (sqrt is IEEE-correctly-rounded,
    hence portable), with z NULL on degenerate all/none conversion.  Shape:
    user-keyed aggregates + a co-partitioned left join, then a 2-row pivot."""
    ev = load_table(spark, sf_dir, "events")
    assigned = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (hash60(F.col("user_id").cast("string")) % 2).alias("variant"),
        )
    )
    first_ts = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    converted = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_ts, "user_id")
        .filter(F.col("ts") <= F.col("t0") + F.expr("INTERVAL 1 HOUR"))
        .select("user_id")
        .distinct()
    )
    per_variant = (
        assigned.join(converted.withColumn("hit", F.lit(1)), "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.when(F.col("hit").isNull(), 0).otherwise(1))
            .cast("long")
            .alias("n_converted"),
        )
    )
    wide = per_variant.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool
        * (1 - pool)
        * (F.lit(1).cast("double") / F.col("n_a") + F.lit(1).cast("double") / F.col("n_b"))
    )
    conv_total = F.col("conv_a") + F.col("conv_b")
    n_total = F.col("n_a") + F.col("n_b")
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        F.when((conv_total == 0) | (conv_total == n_total), F.lit(None).cast("double"))
        .otherwise((p_a - p_b) / se)
        .alias("z"),
    )


# --------------------------------------------------------------------------- #
# basket_association_rules — market-basket co-occurrence with apriori pruning  #
# --------------------------------------------------------------------------- #

_MIN_ITEM_SUP = 10  # apriori: only items this frequent may enter pairs
_MIN_PAIR_SUP = 2
_MAX_BASKET = 64  # baskets above this size are dropped (quadratic-pair guard)


@register(
    "basket_association_rules",
    oracle=f"""
    WITH raw_items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    sized AS (
        SELECT o FROM raw_items GROUP BY o HAVING COUNT(*) <= {_MAX_BASKET}
    ),
    items AS (SELECT r.o, r.p FROM raw_items r JOIN sized s ON r.o = s.o),
    isup AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY p
        HAVING COUNT(*) >= {_MIN_ITEM_SUP}
    ),
    freq AS (SELECT i.o, i.p FROM items i JOIN isup s ON i.p = s.p),
    pairs AS (
        SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM freq a JOIN freq b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= {_MIN_PAIR_SUP}
    ),
    total AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM items)
    SELECT p1, p2, n_ab, sa.n AS n_a, sb.n AS n_b, t.n_orders,
           CAST(n_ab AS DOUBLE) / sa.n AS conf_1_2,
           CAST(n_ab AS DOUBLE) / sb.n AS conf_2_1,
           CAST(n_ab AS DOUBLE) * t.n_orders / (sa.n * sb.n) AS lift
    FROM pairs
    JOIN isup sa ON pairs.p1 = sa.p
    JOIN isup sb ON pairs.p2 = sb.p
    CROSS JOIN total t
    """,
)
def basket_association_rules(spark, sf_dir):
    """Market-basket mining: co-occurring part pairs within orders, with
    support / confidence / lift.  Two scale guards, both part of the result
    contract: (a) apriori pruning — items below the support floor never enter
    the pair self-join; (b) a basket-size cap — baskets above _MAX_BASKET
    distinct items are dropped entirely BEFORE supports are counted (the
    same capped-universe discipline as `dedup_containment`: one pathological
    mega-basket would otherwise contribute size² pairs on a single join key,
    and giant baskets carry no associative signal anyway).  Pair volume is
    therefore bounded by Σ min(basket, cap)².  Shape: distinct items, an
    order-keyed self-join (co-partitioned — one shuffle), support joins on
    the item dimension, a broadcast scalar for the order total.  Confidence
    and lift are single double ops over exact bigints."""
    li = load_table(spark, sf_dir, "lineitem")
    # the capped distinct item set feeds four consumers (supports, both pair
    # sides, order total) — snapshot it once so the fact scan + dedup shuffle
    # run once; registry.release_snapshots frees the blocks.  The basket
    # cap is a windowed count over one o-keyed exchange (optimization round
    # 16, guide §2.4 — the former groupBy(o) + join-back re-derived and
    # re-shuffled the item table; same rework as recsys_item_item_cosine).
    items = snapshot(
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .withColumn("bsize", F.count(F.lit(1)).over(W.partitionBy("o")))
        .filter(F.col("bsize") <= _MAX_BASKET)
        .select("o", "p")
    )
    # one materialized pass computes item supports (was planned three times:
    # the apriori semi-join and both per-side support joins)
    isup = snapshot(
        items.groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _MIN_ITEM_SUP)
    )
    freq = items.join(isup.select("p"), "p").select("o", "p")
    a = freq.select("o", F.col("p").alias("p1"))
    b = freq.select("o", F.col("p").alias("p2"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _MIN_PAIR_SUP)
    )
    total = items.agg(F.count_distinct("o").alias("n_orders"))
    sa = isup.select(F.col("p").alias("p1"), F.col("n").alias("n_a"))
    sb = isup.select(F.col("p").alias("p2"), F.col("n").alias("n_b"))
    out = (
        pairs.join(sa, "p1")
        .join(sb, "p2")
        .crossJoin(F.broadcast(total))
    )
    return out.select(
        "p1",
        "p2",
        "n_ab",
        "n_a",
        "n_b",
        "n_orders",
        (F.col("n_ab").cast("double") / F.col("n_a")).alias("conf_1_2"),
        (F.col("n_ab").cast("double") / F.col("n_b")).alias("conf_2_1"),
        (F.col("n_ab").cast("double") * F.col("n_orders") / (F.col("n_a") * F.col("n_b"))).alias(
            "lift"
        ),
    )


# --------------------------------------------------------------------------- #
# events_autocorrelation — lagged Pearson ACF of the daily value series        #
# --------------------------------------------------------------------------- #

_ACF_MAX_LAG = 7


def _acf_fold_sql(term: str, k: str = "k") -> str:
    """DuckDB ordered left-fold over lag-pair indices (mirrors Spark's
    aggregate(transform(sequence(...)))); `term` uses xs[i] / xs[i + k]."""
    return (
        f"LIST_REDUCE(LIST_TRANSFORM(RANGE(1, LEN(xs) - {k} + 1), "
        f"i -> {term}), (acc, v) -> acc + v)"
    )


@register(
    "events_autocorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT DATE_TRUNC('day', ts) AS d,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*) AS x
        FROM events GROUP BY 1
    ),
    arr AS (SELECT LIST(x ORDER BY d) AS xs FROM daily),
    lags AS (SELECT UNNEST(RANGE(1, {_ACF_MAX_LAG + 1})) AS k),
    calc AS (
        SELECT k, LEN(xs) - k AS m,
               -- series shorter than the lag: no pairs, no row (guards the
               -- empty-list fold here and the descending sequence(1,0) in
               -- the Spark mirror)
               {_acf_fold_sql("xs[i]")} AS sx,
               {_acf_fold_sql("xs[i + k]")} AS sy,
               {_acf_fold_sql("xs[i] * xs[i]")} AS sxx,
               {_acf_fold_sql("xs[i + k] * xs[i + k]")} AS syy,
               {_acf_fold_sql("xs[i] * xs[i + k]")} AS sxy
        FROM arr, lags
        WHERE LEN(xs) > k
    )
    SELECT CAST(k AS INT) AS lag, CAST(m AS BIGINT) AS n_pairs,
           CASE WHEN m * sxx - sx * sx = 0 OR m * syy - sy * sy = 0 THEN NULL
                ELSE (m * sxy - sx * sy)
                     / (SQRT(m * sxx - sx * sx) * SQRT(m * syy - sy * sy))
           END AS acf
    FROM calc
    """,
)
def events_autocorrelation(spark, sf_dir):
    """Autocorrelation (lagged Pearson) of the daily mean-value series at lags
    1..7 — the periodicity detector that complements CUSUM (level shifts),
    EWMA (smoothing) and MAD (outliers).  The heavy stage is the ordinary
    daily aggregation; the series itself is tiny (one element per day, even a
    decade is ~3.6k), so it folds into ONE ordered array and every Σ is a
    fixed-order left fold (`aggregate(transform(sequence(...)))` =
    `LIST_REDUCE(LIST_TRANSFORM(RANGE(...)))`), making each double op
    engine-identical — the `operators.similarity` dot-product discipline
    applied to time series."""
    ev = load_table(spark, sf_dir, "events")
    from airflow_cms_inpatient_etl_spark.functions.exact import dec

    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("x")
    )
    arr = daily.agg(
        F.expr("transform(array_sort(collect_list(struct(d, x))), s -> s.x)").alias("xs")
    )
    lags = arr.select(
        "xs", F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))).alias("k")
    ).filter(F.expr("size(xs) > k"))

    def fold(term: str) -> str:
        return (
            f"aggregate(transform(sequence(1, size(xs) - k), "
            f"i -> {term}), cast(0.0 as double), (acc, v) -> acc + v)"
        )

    calc = lags.select(
        "k",
        (F.size("xs") - F.col("k")).alias("m"),
        F.expr(fold("element_at(xs, i)")).alias("sx"),
        F.expr(fold("element_at(xs, i + k)")).alias("sy"),
        F.expr(fold("element_at(xs, i) * element_at(xs, i)")).alias("sxx"),
        F.expr(fold("element_at(xs, i + k) * element_at(xs, i + k)")).alias("syy"),
        F.expr(fold("element_at(xs, i) * element_at(xs, i + k)")).alias("sxy"),
    )
    m = F.col("m")
    sx, sy = F.col("sx"), F.col("sy")
    dx = m * F.col("sxx") - sx * sx
    dy = m * F.col("syy") - sy * sy
    acf = (m * F.col("sxy") - sx * sy) / (F.sqrt(dx) * F.sqrt(dy))
    # zero variance in either lag slice (m = 1, or a constant series):
    # ACF is undefined — NULL both sides (Spark ANSI would raise on /0)
    guarded = F.when((dx == 0) | (dy == 0), F.lit(None).cast("double")).otherwise(acf)
    return calc.select(
        F.col("k").cast("int").alias("lag"),
        m.cast("long").alias("n_pairs"),
        guarded.alias("acf"),
    )


# --------------------------------------------------------------------------- #
# events_dow_seasonality — day-of-week seasonality index                       #
# --------------------------------------------------------------------------- #


@register(
    "events_dow_seasonality",
    oracle="""
    WITH g AS (
        SELECT CAST(ISODOW(ts) AS INT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(value AS DECIMAL(27,6))) AS sdec
        FROM events GROUP BY 1
    )
    SELECT dow, n,
           CAST(sdec AS DOUBLE) / n AS avg_value,
           (CAST(sdec AS DOUBLE) / n)
             / (CAST(SUM(sdec) OVER () AS DOUBLE) / CAST(SUM(n) OVER () AS BIGINT))
             AS seasonality_index
    FROM g
    """,
)
def events_dow_seasonality(spark, sf_dir):
    """Day-of-week seasonality profile: mean value per ISO weekday relative to
    the global mean (index 1.0 = no weekday effect).  Both means come from
    decimal-exact sums — the global one via decimal window-sums over the
    7-row aggregate, never a float re-sum — so every emitted double is one
    deterministic division.  One shuffle total."""
    ev = load_table(spark, sf_dir, "events")
    from airflow_cms_inpatient_etl_spark.functions.exact import dec

    g = ev.groupBy((F.weekday("ts") + 1).cast("int").alias("dow")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("sdec")
    )
    w = W.partitionBy()
    avg_v = F.col("sdec").cast("double") / F.col("n")
    global_avg = F.sum("sdec").over(w).cast("double") / F.sum("n").over(w)
    return g.select(
        "dow",
        "n",
        avg_v.alias("avg_value"),
        (avg_v / global_avg).alias("seasonality_index"),
    )


# --------------------------------------------------------------------------- #
# corpus_mixture_plan — temperature-based source mixture (mC4 alpha-sampling)  #
# --------------------------------------------------------------------------- #

_MIX_BUDGET_TOKENS = 100_000  # target training-token budget for the plan


@register(
    "corpus_mixture_plan",
    oracle=f"""
    WITH per_lang AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))) AS BIGINT)
                 AS n_tokens
        FROM documents GROUP BY lang
    ),
    denom AS (
        SELECT LIST_REDUCE(LIST(SQRT(CAST(n_tokens AS DOUBLE)) ORDER BY lang),
                           (acc, v) -> acc + v) AS z
        FROM per_lang
    )
    SELECT lang, n_docs, n_tokens,
           SQRT(CAST(n_tokens AS DOUBLE)) / z AS weight,
           SQRT(CAST(n_tokens AS DOUBLE)) / z * {_MIX_BUDGET_TOKENS} / n_tokens
             AS sampling_rate,
           CAST(CEIL(SQRT(CAST(n_tokens AS DOUBLE)) / z * {_MIX_BUDGET_TOKENS}
                     / n_tokens) AS BIGINT) AS n_epochs
    FROM per_lang, denom
    """,
)
def corpus_mixture_plan(spark, sf_dir):
    """Temperature-based mixture planning (the mC4/XLM-R alpha-sampling rule,
    alpha = 0.5): per-language token mass -> upweighted share c^alpha / sum
    c^alpha -> per-language sampling rate against a fixed training-token
    budget, with rate > 1 reported as repeat epochs.  The only cross-group
    float reduction (the sum of sqrt masses) runs as an ordered fold over the
    tiny per-language aggregate — sqrt is IEEE-correctly-rounded, so every
    emitted double is engine-identical.  The heavy stage is one map-side token
    count + one small shuffle; the plan itself is dimension-sized."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    wraw = F.sqrt(F.col("n_tokens").cast("double"))
    return temperature_mixture(per_lang, "lang", wraw, "n_tokens", _MIX_BUDGET_TOKENS)


# --------------------------------------------------------------------------- #
# events_path_trigrams — order-2 sequence mining over user event paths         #
# --------------------------------------------------------------------------- #

_TRIGRAM_MIN_SUP = 5


@register(
    "events_path_trigrams",
    oracle=f"""
    WITH seq AS (
        SELECT LAG(event_type, 2) OVER w AS t1,
               LAG(event_type, 1) OVER w AS t2,
               event_type AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    counts AS (
        SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE t1 IS NOT NULL
        GROUP BY t1, t2, t3 HAVING COUNT(*) >= {_TRIGRAM_MIN_SUP}
    )
    SELECT t1, t2, t3, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, t1, t2, t3) AS BIGINT) AS rnk
    FROM counts
    """,
)
def events_path_trigrams(spark, sf_dir):
    """Order-2 sequence mining: the most common 3-step event paths per user
    timeline (the upgrade of `events_markov_transitions` from edges to
    paths) — the pattern behind funnel discovery and UX path analysis.  One
    user-keyed window shuffle produces all trigrams; the count aggregate and
    the support floor keep output at |event_types|^3 max, so the final
    ranking window is trivially small."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).filter(F.col("t1").isNotNull())
    counts = (
        seq.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _TRIGRAM_MIN_SUP)
    )
    rw = W.orderBy(F.col("n").desc(), "t1", "t2", "t3")
    return counts.withColumn("rnk", F.row_number().over(rw).cast("long"))


# --------------------------------------------------------------------------- #
# events_bounce_rate_daily — single-event-session share per day                #
# --------------------------------------------------------------------------- #


@register(
    "events_bounce_rate_daily",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM flagged
    ),
    sessions AS (
        SELECT user_id, session_id,
               DATE_TRUNC('day', MIN(ts)) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM numbered GROUP BY user_id, session_id
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS bounce_rate
    FROM sessions GROUP BY day
    """,
)
def events_bounce_rate_daily(spark, sf_dir):
    """Daily bounce rate: share of 30-minute-gap sessions containing exactly
    one event, keyed by the day the session started — the engagement KPI
    built on the same sessionization the session-window queries use (here
    the gaps-and-islands construction so the per-session event count is
    explicit).  One user-keyed window shuffle + a session aggregate that
    reuses its partitioning; the daily rollup is calendar-sized.  The rate
    is one bigint ratio."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")  # µs-exact gap, mirroring the interval compare
    new_session = (
        F.when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
    )
    numbered = ev.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("long")
    return sessions.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.alias("n_bounces"),
        (bounce.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
    )


# --------------------------------------------------------------------------- #
# orders_mom_growth — period-over-period revenue                               #
# --------------------------------------------------------------------------- #


@register(
    "orders_mom_growth",
    oracle="""
    WITH m AS (
        SELECT DATE_TRUNC('month', o_orderdate) AS month_start,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS rev_dec
        FROM orders GROUP BY 1
    )
    SELECT month_start, n_orders,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CASE WHEN LAG(rev_dec) OVER (ORDER BY month_start) IS NULL THEN NULL
                ELSE CAST(rev_dec AS DOUBLE)
                     / CAST(LAG(rev_dec) OVER (ORDER BY month_start) AS DOUBLE) - 1
           END AS mom_growth,
           CASE WHEN LAG(rev_dec, 12) OVER (ORDER BY month_start) IS NULL THEN NULL
                ELSE CAST(rev_dec AS DOUBLE)
                     / CAST(LAG(rev_dec, 12) OVER (ORDER BY month_start) AS DOUBLE) - 1
           END AS yoy_growth
    FROM m
    """,
)
def orders_mom_growth(spark, sf_dir):
    """Period-over-period revenue: month-over-month and year-over-year growth
    ratios over decimal-exact monthly sums.  The heavy stage is one monthly
    aggregate; the LAG windows run on the calendar-sized month table (a
    single tiny partition is correct there — months/12y = 144 rows).  Each
    growth number is one double division of engine-identical operands, NULL
    for the first period(s)."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month_start")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(T.DecimalType(27, 6))).alias("rev_dec"),
    )
    w = W.orderBy("month_start")
    prev = F.lag("rev_dec").over(w)
    prev12 = F.lag("rev_dec", 12).over(w)
    return m.select(
        "month_start",
        "n_orders",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(F.col("rev_dec").cast("double") / prev.cast("double") - 1)
        .alias("mom_growth"),
        F.when(prev12.isNull(), F.lit(None).cast("double"))
        .otherwise(F.col("rev_dec").cast("double") / prev12.cast("double") - 1)
        .alias("yoy_growth"),
    )


# --------------------------------------------------------------------------- #
# events_rolling_active_users — DAU / trailing-7d / trailing-30d actives       #
# --------------------------------------------------------------------------- #


@register(
    "events_rolling_active_users",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    wau AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS n
        FROM days d JOIN ud u
          ON u.day <= d.day AND u.day > d.day - INTERVAL '7 days'
        GROUP BY d.day
    ),
    mau AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS n
        FROM days d JOIN ud u
          ON u.day <= d.day AND u.day > d.day - INTERVAL '30 days'
        GROUP BY d.day
    ),
    dau AS (SELECT day, COUNT(*) AS n FROM ud GROUP BY day)
    SELECT dau.day,
           CAST(dau.n AS BIGINT) AS dau,
           CAST(wau.n AS BIGINT) AS wau,
           CAST(mau.n AS BIGINT) AS mau
    FROM dau JOIN wau ON dau.day = wau.day JOIN mau ON dau.day = mau.day
    """,
)
def events_rolling_active_users(spark, sf_dir):
    """Rolling engagement: per active day, the exact count of distinct users
    active that day (DAU), in the trailing 7 days (WAU) and trailing 30 days
    (MAU).  Built by the dedup-then-expand rule on the distinct (user, day)
    pairs: each pair fans into its ≤7 / ≤30 covering days and one
    distinct-count aggregate finishes — expansion is bounded by 37 x distinct
    user-DAYS (already tiny relative to events), never the event volume.
    Output days are restricted to observed active days (join with the day
    set), matching the oracle's day spine."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def trailing(n: int, alias: str):
        expanded = ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("k"),
            F.col("day"),
        ).select(
            "user_id",
            F.expr("day + make_interval(0, 0, 0, k, 0, 0, 0)").alias("day"),
        )
        return (
            expanded.join(days, "day")
            .groupBy("day")
            .agg(F.count_distinct("user_id").alias(alias))
        )

    return (
        dau.join(trailing(7, "wau"), "day")
        .join(trailing(30, "mau"), "day")
        .select("day", "dau", "wau", "mau")
    )


# --------------------------------------------------------------------------- #
# events_survival_time_to_convert — Kaplan-Meier estimator, fully declarative  #
# --------------------------------------------------------------------------- #

_KM_HORIZON_H = 48  # censor users not converting within this many hours


@register(
    "events_survival_time_to_convert",
    oracle=f"""
    WITH u AS (
        SELECT user_id, MIN(EPOCH_US(ts)) AS t0,
               MIN(CASE WHEN event_type = 'purchase' THEN EPOCH_US(ts) END) AS tp
        FROM events GROUP BY user_id
    ),
    lives AS (
        SELECT CASE WHEN tp IS NOT NULL
                     AND (tp - t0) // 3600000000 <= {_KM_HORIZON_H}
                    THEN CAST((tp - t0) // 3600000000 AS BIGINT)
                    ELSE CAST({_KM_HORIZON_H} AS BIGINT) END AS t,
               CASE WHEN tp IS NOT NULL
                     AND (tp - t0) // 3600000000 <= {_KM_HORIZON_H}
                    THEN 1 ELSE 0 END AS converted
        FROM u
    ),
    dur AS (
        SELECT t, CAST(SUM(converted) AS BIGINT) AS d,
               CAST(SUM(1 - converted) AS BIGINT) AS c
        FROM lives GROUP BY t
    ),
    packed AS (
        SELECT LIST(t ORDER BY t) AS ts_, LIST(d ORDER BY t) AS ds,
               LIST(c ORDER BY t) AS cs, CAST(SUM(d + c) AS BIGINT) AS total
        FROM dur
    ),
    calc AS (
        SELECT ts_, ds, cs, LEN(ts_) AS n,
               LIST_TRANSFORM(RANGE(1, LEN(ts_) + 1), j ->
                   CASE WHEN j = 1 THEN total
                        ELSE total - LIST_REDUCE(
                            LIST_TRANSFORM(RANGE(1, j), x -> ds[x] + cs[x]),
                            (a, b) -> a + b)
                   END) AS risks
        FROM packed WHERE LEN(ts_) > 0
    ),
    with_terms AS (
        SELECT ts_, ds, cs, n, risks,
               LIST_TRANSFORM(RANGE(1, n + 1),
                              j -> 1 - CAST(ds[j] AS DOUBLE) / risks[j]) AS terms
        FROM calc
    ),
    rows_ AS (
        SELECT UNNEST(RANGE(1, n + 1)) AS i, ts_, ds, cs, risks, terms FROM with_terms
    )
    SELECT CAST(ts_[i] AS INT) AS hours_to_convert,
           CAST(risks[i] AS BIGINT) AS n_at_risk,
           ds[i] AS n_converted,
           cs[i] AS n_censored,
           LIST_REDUCE(LIST_TRANSFORM(RANGE(1, i + 1), j -> terms[j]), (a, b) -> a * b)
             AS survival
    FROM rows_
    WHERE ds[i] > 0
    """,
)
def events_survival_time_to_convert(spark, sf_dir):
    """Kaplan-Meier survival estimator for time-to-first-purchase with a fixed
    48-hour censoring horizon — the standard churn/conversion survival curve,
    expressed fully declaratively: S(t) = prod over event times t_j <= t of
    (1 - d_j / n_j), with the cumulative product computed as fixed-order
    left folds over ONE collected (t, d, c) array (the duration axis is
    horizon-bounded — <= 49 rows regardless of data volume, so the O(n^2)
    in-row folds are trivial and identical in both engines; 1.0 * x == x
    bitwise, so seed-first and seeded folds agree exactly).  The heavy
    stage is ONE user-keyed aggregate (t0 and first-purchase time via a
    conditional min in the same pass — min ignores nulls); everything after
    is array math on a dimension-sized row.  Elapsed hours use epoch
    microsecond arithmetic (DuckDB's DATEDIFF('hour') counts boundary
    crossings, not elapsed time).  An empty/fully-filtered input yields
    zero rows in both engines (the empty packed row is filtered before the
    index explode — Spark's sequence(1, 0) is the DESCENDING [1, 0], not
    empty)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("tp"),
    )
    h_us = 3_600_000_000
    dur_h = F.expr(f"(tp - t0) div {h_us}")
    in_horizon = F.col("tp").isNotNull() & (dur_h <= _KM_HORIZON_H)
    lives = u.select(
        F.when(in_horizon, dur_h).otherwise(F.lit(_KM_HORIZON_H)).cast("long").alias("t"),
        F.when(in_horizon, 1).otherwise(0).alias("converted"),
    )
    dur = lives.groupBy("t").agg(
        F.sum("converted").cast("long").alias("d"),
        F.sum(1 - F.col("converted")).cast("long").alias("c"),
    )
    packed = dur.agg(
        F.expr("array_sort(collect_list(struct(t, d, c)))").alias("rows"),
        F.sum(F.col("d") + F.col("c")).cast("long").alias("total"),
    ).select(
        F.expr("transform(rows, r -> r.t)").alias("ts_"),
        F.expr("transform(rows, r -> r.d)").alias("ds"),
        F.expr("transform(rows, r -> r.c)").alias("cs"),
        "total",
    )
    # the at-risk counts materialize ONCE as an array (total minus the
    # prefix of processed subjects); terms and the output both index it,
    # so the definition lives in exactly one Spark and one SQL site
    risks = (
        "transform(sequence(1, size(ts_)), j -> "
        "CASE WHEN j = 1 THEN total ELSE total - "
        "aggregate(transform(sequence(1, j - 1), x -> "
        "element_at(ds, x) + element_at(cs, x)), cast(0 as bigint), (a, b) -> a + b)"
        " END)"
    )
    calc = packed.filter(F.expr("size(ts_) > 0")).select(
        "ts_", "ds", "cs", F.expr(risks).alias("risks")
    )
    terms = (
        "transform(sequence(1, size(ts_)), j -> "
        "1 - cast(element_at(ds, j) as double) / element_at(risks, j))"
    )
    with_terms = calc.select("ts_", "ds", "cs", "risks", F.expr(terms).alias("terms"))
    rows = with_terms.select(
        F.explode(F.expr("sequence(1, size(ts_))")).alias("i"),
        "ts_",
        "ds",
        "cs",
        "risks",
        "terms",
    )
    surv = (
        "aggregate(transform(sequence(1, i), j -> element_at(terms, j)), "
        "cast(1.0 as double), (a, b) -> a * b)"
    )
    return (
        rows.filter(F.expr("element_at(ds, i) > 0"))
        .select(
            F.expr("element_at(ts_, i)").cast("int").alias("hours_to_convert"),
            F.expr("element_at(risks, i)").cast("long").alias("n_at_risk"),
            F.expr("element_at(ds, i)").alias("n_converted"),
            F.expr("element_at(cs, i)").alias("n_censored"),
            F.expr(surv).alias("survival"),
        )
    )


# --------------------------------------------------------------------------- #
# recsys_item_item_cosine — co-occurrence item-item collaborative filtering    #
# --------------------------------------------------------------------------- #

_CF_TOPK = 5


@register(
    "recsys_item_item_cosine",
    oracle=f"""
    WITH raw_items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    sized AS (SELECT o FROM raw_items GROUP BY o HAVING COUNT(*) <= {_MAX_BASKET}),
    items AS (SELECT r.o, r.p FROM raw_items r JOIN sized s ON r.o = s.o),
    isup AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY p),
    pairs AS (
        SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b ON a.o = b.o AND a.p <> b.p
        GROUP BY a.p, b.p HAVING COUNT(*) >= {_MIN_PAIR_SUP}
    ),
    scored AS (
        SELECT p1 AS item, p2 AS neighbor, n_ab,
               CAST(n_ab AS DOUBLE) / SQRT(CAST(sa.n AS DOUBLE) * sb.n) AS cosine
        FROM pairs JOIN isup sa ON pairs.p1 = sa.p JOIN isup sb ON pairs.p2 = sb.p
    )
    SELECT item, neighbor, n_ab, cosine, rn FROM (
        SELECT item, neighbor, n_ab, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY item
                                       ORDER BY cosine DESC, neighbor) AS BIGINT) AS rn
        FROM scored
    ) WHERE rn <= {_CF_TOPK}
    """,
)
def recsys_item_item_cosine(spark, sf_dir):
    """Item-item collaborative filtering (Sarwar et al. WWW'01): cosine over
    basket co-occurrence counts — sim(i, j) = n_ij / sqrt(n_i * n_j) — and
    the top-5 neighbors per item, i.e. the "customers also bought" model.
    Reuses the capped-basket discipline (pair volume ∝ Σ min(basket, cap)²);
    co-occurrence is symmetric, so pairs aggregate UNDIRECTED (half the
    exchange) and mirror post-aggregation so each item still ranks its own
    neighbor list; counts are exact bigints, the cosine is one sqrt + one
    division over exact operands, and the rank window is per-item with a
    neighbor tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    # basket-size cap via a windowed count over the SAME o-keyed exchange the
    # pair self-join needs (optimization round 16, guide §2.4): the former
    # groupBy(o) + join-back re-derived and re-shuffled the item table; the
    # window filter is one exchange, and the snapshot preserves its o-hash
    # partitioning so the self-join below runs exchange-free on both sides
    items = snapshot(
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .withColumn("bsize", F.count(F.lit(1)).over(W.partitionBy("o")))
        .filter(F.col("bsize") <= _MAX_BASKET)
        .select("o", "p")
    )
    # one materialized pass computes item supports (was planned twice — once
    # per side of the support join — which scanned items twice)
    isup = snapshot(items.groupBy("p").agg(F.count(F.lit(1)).alias("n")))
    a = items.select("o", F.col("p").alias("p1"))
    b = items.select("o", F.col("p").alias("p2"))
    # co-occurrence is symmetric (n_ij == n_ji), so aggregate UNDIRECTED
    # pairs (p1 < p2), attach both supports and the cosine on the undirected
    # half, and mirror AFTER: the pair exchange, the support joins and the
    # sqrt all run on half the rows, and sqrt(n_a*n_b) is commutative so the
    # mirrored cosine is bit-identical
    sa = isup.select(F.col("p").alias("p1"), F.col("n").alias("n_a"))
    sb = isup.select(F.col("p").alias("p2"), F.col("n").alias("n_b"))
    und = snapshot(  # feeds both union branches — materialize once
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _MIN_PAIR_SUP)
        .join(sa, "p1")
        .join(sb, "p2")
        .select(
            "p1",
            "p2",
            "n_ab",
            (
                F.col("n_ab").cast("double")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("cosine"),
        )
    )
    scored = und.select(
        F.col("p1").alias("item"), F.col("p2").alias("neighbor"), "n_ab", "cosine"
    ).unionByName(
        und.select(
            F.col("p2").alias("item"), F.col("p1").alias("neighbor"), "n_ab", "cosine"
        )
    )
    w = W.partitionBy("item").orderBy(F.col("cosine").desc(), "neighbor")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _CF_TOPK)
        .select("item", "neighbor", "n_ab", "cosine", "rn")
    )


# --------------------------------------------------------------------------- #
# bpe_merge_candidates — one BPE training step over the corpus                 #
# --------------------------------------------------------------------------- #

_BPE_TOPK = 20


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS w
              FROM documents)
        WHERE LENGTH(w) > 1
        GROUP BY w
    ),
    adj AS (
        SELECT SUBSTRING(w, CAST(i AS BIGINT), 2) AS pair, freq
        FROM words, UNNEST(RANGE(1, LENGTH(w))) AS t(i)
    ),
    counts AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM adj GROUP BY pair
    )
    SELECT pair, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rnk
    FROM counts
    ORDER BY rnk LIMIT {_BPE_TOPK}
    """,
)
def bpe_merge_candidates(spark, sf_dir):
    """One BPE tokenizer-training step (Sennrich et al. ACL'16): count every
    adjacent character pair across the corpus, weighted by word frequency —
    the top pair is exactly what BPE merges next, and the ranked list is the
    merge frontier.  The scale move is counting over the DISTINCT word table
    with frequencies (corpus-size-independent vocabulary) rather than raw
    tokens; pair extraction is an in-row transform over character positions
    (single-char words contribute nothing — guarded, since Spark's
    sequence(1, 0) is descending).  Two shuffles: word counts, pair sum."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
        .filter(F.length("w") > 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    adj = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    counts = adj.groupBy("pair").agg(F.sum("freq").alias("n"))
    rw = W.orderBy(F.col("n").desc(), "pair")
    return (
        counts.withColumn("rnk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rnk") <= _BPE_TOPK)
    )


# --------------------------------------------------------------------------- #
# bpe_train_vocab — the FULL iterative BPE trainer (merge loop to a budget)    #
# --------------------------------------------------------------------------- #

_BPE_TRAIN_MERGES = 16


def _bpe_train_cte_blocks(n_merges: int) -> str:
    """The WITH-body of the unrolled BPE training loop, shared by the
    trainer oracle and the train-then-apply composition oracle.

    DuckDB's recursive CTEs cannot aggregate over the recursive reference,
    so the loop is UNROLLED: one (census → argmax → apply) CTE block per
    merge, mechanically generated.  Every w{{i}}/b{{i}} is MATERIALIZED —
    each is referenced twice, and default CTE inlining would otherwise
    expand the chain exponentially (2^n copies of the base scan; measured:
    fd exhaustion at n=16).  Semantics per block mirror the engine exactly:
    pair census over token lists weighted by word freq, argmax with (count
    desc, pair-string asc) tiebreak, boundary-encoded single-pass replace.
    """
    parts = [
        """WITH w0 AS MATERIALIZED (
        SELECT regexp_replace(w, '(.)', ' \\1;', 'g') AS seq,
               CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS w
              FROM documents)
        WHERE LENGTH(w) > 1 AND regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY w
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f""", b{i} AS MATERIALIZED (
        SELECT pair, n FROM (
            SELECT toks[CAST(i AS BIGINT)] || ' ' || toks[CAST(i AS BIGINT) + 1] AS pair,
                   CAST(SUM(freq) AS BIGINT) AS n
            FROM (SELECT STRING_SPLIT(RTRIM(SUBSTRING(seq, 2), ';'), '; ') AS toks, freq
                  FROM w{i}) s,
                 UNNEST(RANGE(1, LEN(toks))) AS t(i)
            GROUP BY 1
        ) ORDER BY n DESC, pair LIMIT 1
    ), m{i} AS (
        SELECT CAST({i + 1} AS BIGINT) AS rnk,
               STRING_SPLIT(pair, ' ')[1] AS lft,
               STRING_SPLIT(pair, ' ')[2] AS rgt,
               REPLACE(pair, ' ', '') AS merged,
               n AS pair_n
        FROM b{i}
    ), w{i + 1} AS MATERIALIZED (
        SELECT REPLACE(w{i}.seq,
                       ' ' || STRING_SPLIT(b{i}.pair, ' ')[1] || '; '
                           || STRING_SPLIT(b{i}.pair, ' ')[2] || ';',
                       ' ' || REPLACE(b{i}.pair, ' ', '') || ';') AS seq,
               freq
        FROM w{i}, b{i}
    )"""
        )
    return "".join(parts)


def _bpe_train_oracle(n_merges: int) -> str:
    union = " UNION ALL ".join(f"SELECT * FROM m{i}" for i in range(n_merges))
    return _bpe_train_cte_blocks(n_merges) + " " + union


@register("bpe_train_vocab", oracle=_bpe_train_oracle(_BPE_TRAIN_MERGES))
def bpe_train_vocab(spark, sf_dir):
    """The FULL iterative BPE tokenizer trainer — `bpe_merge_candidates`'s
    single census step looped to a {_BPE_TRAIN_MERGES}-merge budget by
    ``operators.text.bpe_train``, closing the one tokenizer op a real
    pipeline still lacked (the static merge chain `bpe_apply_encode`
    applies is what this loop PRODUCES).  Pre-tokenization: lowercase
    whitespace words restricted to ^[a-z0-9]+$ (so the boundary-encoding
    chars ' ' and ';' can never appear inside a token) with length > 1,
    counted into a DISTINCT-word frequency table — the standard BPE moves
    that make every later iteration vocabulary-sized, not corpus-sized.
    Output: the ranked merge table (rnk, lft, rgt, merged, pair_n).

    The oracle unrolls the identical loop as {_BPE_TRAIN_MERGES} chained
    MATERIALIZED CTE blocks — same census, same (count desc, pair asc)
    argmax, same boundary-encoded single-pass replace — so the hash match
    proves every intermediate merge decision, not just the final table.

    Scale (see the operator docstring): one corpus-sized shuffle total
    (the word count); per merge, one vocab-sized map + one pair-keyed
    partial-combined shuffle + a 1-row driver argmax; merge application
    folds replace maps onto the vocab snapshot, re-snapshot every 64
    merges so lineage replay stays bounded at large merge budgets."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
        .filter((F.length("w") > 1) & F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.regexp_replace("w", "(.)", " $1;").alias("seq"), "freq")
    )
    merges = bpe_train(words, _BPE_TRAIN_MERGES)
    # The oracle unrolls exactly _BPE_TRAIN_MERGES blocks as w{i} CROSS JOIN
    # b{i}; if the census ran dry early, b{i} would be EMPTY and empty the
    # oracle's whole vocab chain while the engine broke gracefully with
    # partial merges — a silent engine/oracle divergence.  Fail loudly here
    # instead: the fixture corpus must sustain the full merge budget.
    if len(merges) != _BPE_TRAIN_MERGES:
        raise ValueError(
            f"bpe_train_vocab: census ran dry after {len(merges)} of "
            f"{_BPE_TRAIN_MERGES} merges; the unrolled oracle assumes the "
            f"full budget — lower _BPE_TRAIN_MERGES or grow the corpus."
        )
    return spark.createDataFrame(
        merges, schema="rnk bigint, lft string, rgt string, merged string, pair_n bigint"
    )


fill_doc(bpe_train_vocab, _BPE_TRAIN_MERGES=_BPE_TRAIN_MERGES)


# --------------------------------------------------------------------------- #
# bpe_train_apply_compression — train merges, encode the corpus with them      #
# --------------------------------------------------------------------------- #


def _bpe_apply_oracle(n_merges: int) -> str:
    """Trainer blocks + apply: the trained merge chain re-encodes the corpus
    and per-doc compression is reported.  The chain is the same nested
    single-pass REPLACE the engine folds; token count = ';' count (each
    token carries exactly one trailing ';' in the boundary encoding)."""
    enc = "regexp_replace(w, '(.)', ' \\1;', 'g')"
    for i in range(n_merges):
        enc = (
            f"REPLACE({enc}, ' ' || m{i}.lft || '; ' || m{i}.rgt || ';',"
            f" ' ' || m{i}.merged || ';')"
        )
    crossm = " CROSS JOIN ".join(f"m{i}" for i in range(n_merges))
    return (
        _bpe_train_cte_blocks(n_merges)
        + f"""
    , vocab AS MATERIALIZED (
        SELECT w, CAST(LENGTH(enc) - LENGTH(REPLACE(enc, ';', '')) AS BIGINT)
                   AS tok_after
        FROM (SELECT w0w.w, {enc} AS enc
              FROM (SELECT DISTINCT w FROM (
                        SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS w
                        FROM documents)
                    WHERE LENGTH(w) > 1 AND regexp_matches(w, '^[a-z0-9]+$')) w0w
              CROSS JOIN {crossm})
    ),
    doc_words AS (
        SELECT doc_id, t AS w
        FROM (SELECT doc_id,
                     UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS t
              FROM documents)
        WHERE LENGTH(t) > 1 AND regexp_matches(t, '^[a-z0-9]+$')
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(LENGTH(d.w)) AS BIGINT) AS tokens_before,
           CAST(SUM(v.tok_after) AS BIGINT) AS tokens_after,
           CAST(SUM(v.tok_after) * 10000 // SUM(LENGTH(d.w)) AS BIGINT)
               AS compression_bp
    FROM doc_words d JOIN vocab v USING (w)
    GROUP BY doc_id
    """
    )


@register("bpe_train_apply_compression", oracle=_bpe_apply_oracle(_BPE_TRAIN_MERGES))
def bpe_train_apply_compression(spark, sf_dir):
    """The tokenizer loop CLOSED end-to-end: train {_BPE_TRAIN_MERGES} BPE
    merges on the corpus (`operators.text.bpe_train` — the same loop as
    `bpe_train_vocab`), then ENCODE the corpus with the merges just
    trained and report per-document compression — the metric a tokenizer
    training run is actually judged by (chars-per-token before/after).
    Output per doc: eligible word count, initial token count (= chars,
    char-level start), token count after the trained merge chain, and
    integer-basis-point compression (after × 10000 div before).

    Plan: the trainer's census cost (see `bpe_train`); then encoding is
    VOCABULARY-sized, not corpus-sized — the merge chain folds over the
    distinct-word table once (token count = trailing-';' count of the
    boundary encoding, a length difference), and documents join that tiny
    (word → tok_after) map on the exploded eligible words with one
    doc-keyed aggregation.  No token payload in any exchange; the oracle
    unrolls the identical trainer and nests the identical 16 REPLACEs."""
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
        .filter((F.length("w") > 1) & F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    words = base.select(F.regexp_replace("w", "(.)", " $1;").alias("seq"), "freq")
    merges = bpe_train(words, _BPE_TRAIN_MERGES)
    if len(merges) != _BPE_TRAIN_MERGES:
        # see bpe_train_vocab: a dry census would silently empty the oracle's
        # CROSS JOIN chain while the engine returned partial-merge results
        raise ValueError(
            f"bpe_train_apply_compression: census ran dry after "
            f"{len(merges)} of {_BPE_TRAIN_MERGES} merges; the unrolled "
            f"oracle assumes the full budget."
        )
    enc = F.regexp_replace("w", "(.)", " $1;")
    for _, left, right, merged, _n in merges:
        enc = F.replace(enc, F.lit(f" {left}; {right};"), F.lit(f" {merged};"))
    vocab = base.select(
        "w",
        (F.length(enc) - F.length(F.replace(enc, F.lit(";"), F.lit("")))).cast(
            "long"
        ).alias("tok_after"),
    )
    doc_words = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    ).filter((F.length("w") > 1) & F.col("w").rlike("^[a-z0-9]+$"))
    joined = doc_words.join(vocab, "w")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("tokens_before"),
            F.sum("tok_after").alias("tokens_after"),
        )
        .select(
            "doc_id",
            "n_words",
            "tokens_before",
            "tokens_after",
            F.expr("tokens_after * 10000 div tokens_before").alias("compression_bp"),
        )
    )


fill_doc(bpe_train_apply_compression, _BPE_TRAIN_MERGES=_BPE_TRAIN_MERGES)


# --------------------------------------------------------------------------- #
# sql_q3_shipping_priority — TPC-H Q3 through the raw spark.sql entry path     #
# --------------------------------------------------------------------------- #

_Q3_SQL = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
         AS revenue,
       o_orderdate,
       o_orderpriority
FROM {cust} c
JOIN {ords} o ON c.c_custkey = o.o_custkey
JOIN {li} l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) DESC,
         l_orderkey
LIMIT 10
"""


@register(
    "sql_q3_shipping_priority",
    oracle=_Q3_SQL.format(cust="customer", ords="orders", li="lineitem"),
)
def sql_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping priority) submitted through the RAW ``spark.sql``
    entry path — the engine's second API surface next to the DataFrame
    builder: temp views over the same `load_table` scans, one SQL text shared
    verbatim with the oracle (table names templated), Catalyst doing the
    same pushdown/broadcast work either way.  The top-10 is selected on the
    DECIMAL revenue (exact, engine-identical ordering) with an orderkey
    tie-break, then cast to double for output."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"q3_{t}")
    return spark.sql(
        _Q3_SQL.format(cust="q3_customer", ords="q3_orders", li="q3_lineitem")
    )


# --------------------------------------------------------------------------- #
# orders_leadtime_percentiles — fulfillment SLA distribution per priority      #
# --------------------------------------------------------------------------- #


@register(
    "orders_leadtime_percentiles",
    oracle="""
    WITH lt AS (
        SELECT o.o_orderpriority,
               DATEDIFF('day', o.o_orderdate, l.l_shipdate) AS lead_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           QUANTILE_CONT(lead_days, 0.50) AS p50,
           QUANTILE_CONT(lead_days, 0.90) AS p90,
           QUANTILE_CONT(lead_days, 0.99) AS p99,
           CAST(MAX(lead_days) AS BIGINT) AS max_days
    FROM lt GROUP BY o_orderpriority
    """,
)
def orders_leadtime_percentiles(spark, sf_dir):
    """Fulfillment lead-time SLA profile: exact interpolated p50/p90/p99 of
    order-to-ship days per priority class — the supply-chain twin of the
    event-side MAD/percentile family.  One fact-side join (orders projected
    to two columns, broadcast under AQE) into one grouped exact-percentile
    aggregate; both engines interpolate lower + (upper-lower)*f on sorted
    values, so the doubles are bit-identical."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("lead_days"),
    )
    return lt.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("lead_days", F.lit(0.50)).alias("p50"),
        F.percentile("lead_days", F.lit(0.90)).alias("p90"),
        F.percentile("lead_days", F.lit(0.99)).alias("p99"),
        F.max("lead_days").cast("long").alias("max_days"),
    )


# --------------------------------------------------------------------------- #
# customer_repurchase_intervals — gap distribution between consecutive orders  #
# --------------------------------------------------------------------------- #


@register(
    "customer_repurchase_intervals",
    oracle="""
    WITH gaps AS (
        SELECT DATEDIFF('day',
                        LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate, o_orderkey),
                        o_orderdate) AS gap_days
        FROM orders
    ),
    bucketed AS (
        SELECT CAST(gap_days // 30 AS INT) AS gap_months_bucket
        FROM gaps WHERE gap_days IS NOT NULL
    )
    SELECT gap_months_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS share
    FROM bucketed GROUP BY gap_months_bucket
    """,
)
def customer_repurchase_intervals(spark, sf_dir):
    """Repurchase-interval distribution: days between a customer's
    consecutive orders, bucketed into 30-day bands with each band's share —
    the purchase-cadence profile behind replenishment and churn models.
    One customer-keyed window shuffle; the share window runs on the
    few-dozen-row bucket aggregate.  All ints + one bigint-ratio double."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    bucketed = gaps.select(
        F.expr("CAST(gap_days div 30 AS INT)").alias("gap_months_bucket")
    )
    counts = bucketed.groupBy("gap_months_bucket").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "gap_months_bucket",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(W.partitionBy())).alias("share"),
    )


# --------------------------------------------------------------------------- #
# text_readability_scores — Flesch-style curation signal                       #
# --------------------------------------------------------------------------- #


@register(
    "text_readability_scores",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS BIGINT) AS n_words,
               CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1) AS BIGINT)
                 AS n_sentences,
               CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+')) AS BIGINT)
                 AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
    FROM m
    """,
)
def text_readability_scores(spark, sf_dir):
    """Flesch reading-ease per document with a vowel-group syllable proxy —
    the readability band filter educational-quality curation pipelines use
    (a FineWeb-Edu-style cheap signal next to the entropy / repetition /
    perplexity scorers).  Sentence count floors at 1 (unterminated text);
    all three counts are exact ints, so the score is three deterministic
    double ops with shared literal constants.  Zero shuffles — pure map."""
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_words"),
        F.greatest(F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1))
        .cast("long")
        .alias("n_sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return m.select("doc_id", "n_words", "n_sentences", "n_syllables", flesch.alias("flesch"))


# --------------------------------------------------------------------------- #
# bpe_apply_encode — apply a trained BPE merge table to the corpus             #
# --------------------------------------------------------------------------- #

# The shipped tokenizer artifact: a RANKED merge list (the thing one BPE
# training run — `bpe_merge_candidates` iterated — produces once, offline).
# The list is topologically consistent (every compound merge's inputs are
# produced only by lower ranks), which makes one exhaustive left-to-right
# pass per rank equivalent to classic rescan-from-lowest-rank BPE
# (Sennrich et al. ACL'16) — so the whole encoder is a static expression
# chain, no iteration at apply time.
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("a", "t"), ("s", "t"), ("e", "n"), ("o", "r"), ("a", "r"),
    ("l", "e"), ("s", "c"), ("sc", "an"), ("t", "a"), ("ta", "b"),
    ("tab", "le"), ("h", "a"), ("ha", "s"), ("has", "h"), ("w", "in"),
    ("win", "d"), ("wind", "o"), ("windo", "w"), ("s", "o"), ("so", "r"),
    ("sor", "t"), ("p", "ar"), ("par", "t"), ("v", "a"), ("va", "l"),
    ("val", "u"), ("valu", "e"), ("r", "o"), ("ro", "w"), ("k", "e"),
    ("ke", "y"), ("m", "er"), ("mer", "g"), ("merg", "e"), ("b", "at"),
    ("bat", "c"), ("batc", "h"), ("f", "a"), ("fa", "st"), ("s", "l"),
    ("sl", "o"), ("slo", "w"), ("s", "p"), ("sp", "ar"), ("spar", "k"),
    ("l", "in"), ("lin", "e"), ("a", "g"), ("ag", "g"),
]


def _bpe_enc_spark(var: str) -> str:
    """Expression producing the wrapped-token encoding of word `var` after
    applying every merge in rank order.  Each token rides as '|t|', so a
    merge (a,b) is the literal replace '|a||b|' -> '|ab|' — REPLACE's
    left-to-right non-overlapping scan IS the greedy merge pass, and the
    per-token double bar means adjacent matches never share a delimiter."""
    e = f"regexp_replace({var}, '(.)', '|$1|')"
    for a, b in _BPE_MERGES:
        e = f"replace({e}, '|{a}||{b}|', '|{a}{b}|')"
    return e


def _bpe_enc_duckdb(var: str) -> str:
    e = f"REGEXP_REPLACE({var}, '(.)', '|\\1|', 'g')"
    for a, b in _BPE_MERGES:
        e = f"REPLACE({e}, '|{a}||{b}|', '|{a}{b}|')"
    return e


def bpe_token_count_spark(word_var: str) -> str:
    """Per-word BPE token count as a pure SQL expression (2 bars per token);
    words containing the delimiter fall back to a single token."""
    enc = _bpe_enc_spark(word_var)
    return (
        f"CASE WHEN {word_var} LIKE '%|%' THEN 1L "
        f"ELSE (length({enc}) - length(replace({enc}, '|', ''))) div 2 END"
    )


def bpe_token_count_duckdb(word_var: str) -> str:
    enc = _bpe_enc_duckdb(word_var)
    return (
        f"CASE WHEN {word_var} LIKE '%|%' THEN 1 "
        f"ELSE (LENGTH({enc}) - LENGTH(REPLACE({enc}, '|', ''))) // 2 END"
    )


@register(
    "bpe_apply_encode",
    oracle=f"""
    WITH words AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                           x -> x != '') AS w
        FROM documents
    )
    SELECT doc_id,
           CAST(LEN(w) AS BIGINT) AS ws_tokens,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(w,
                x -> {bpe_token_count_duckdb('x')})), 0) AS BIGINT) AS bpe_tokens,
           CASE WHEN LEN(w) = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(w,
                     x -> {bpe_token_count_duckdb('x')})), 0) * 10000 // LEN(w) AS BIGINT)
           END AS tpw_x10000
    FROM words
    """,
)
def bpe_apply_encode(spark, sf_dir):
    """Tokenizer ENCODING at corpus scale: apply the shipped ranked BPE merge
    table to every word and emit exact subword token counts per document —
    the number every token-budget stage (`pack_token_budget`,
    `corpus_range_shards`, `corpus_mixture_plan`) needs instead of the
    whitespace approximation.  The encoder is a static chain of
    {n_merges} literal `replace` calls over the '|t1||t2|' wrapped-token
    string (see `_bpe_enc_spark`) evaluated in-row per word: a pure
    zero-shuffle map pass, whole-stage-codegen JVM string ops, constant
    work per token — exactly how a production tokenizer kernel runs, and
    the plan that survives 100 TB (no distinct-vocab shuffle, nothing
    keyed by corpus size).  The oracle runs the same replace chain in
    DuckDB, so the rank-order/greedy-pass semantics are value-checked
    cross-engine."""
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # degenerate-scan guard (see sources.registry.spread_scan)
    tok = bpe_token_count_spark("w")
    return d.select(
        "doc_id",
        F.expr(r"filter(split(trim(lower(text)), '\\s+'), x -> x != '')").alias("ws"),
    ).select(
        "doc_id",
        F.size("ws").cast("long").alias("ws_tokens"),
        F.expr(
            f"aggregate(ws, cast(0 as bigint), (acc, w) -> acc + ({tok}))"
        ).alias("bpe_tokens"),
    ).select(
        "doc_id",
        "ws_tokens",
        "bpe_tokens",
        F.expr(
            "CASE WHEN ws_tokens = 0 THEN cast(0 as bigint) "
            "ELSE (bpe_tokens * 10000) div ws_tokens END"
        ).alias("tpw_x10000"),
    )


fill_doc(bpe_apply_encode, n_merges=len(_BPE_MERGES))


# --------------------------------------------------------------------------- #
# q4 / q14 / q19 shapes — the remaining classic TPC-H plan families            #
# --------------------------------------------------------------------------- #


@register(
    "q4_late_shipping_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipping_priority(spark, sf_dir):
    """TPC-H Q4 shape (adapted to this schema: the fixture lineitem carries
    shipdate, not commitdate — reference columns are the SynPUF-style subset,
    see SURVEY.md §2): orders in a quarter having at least one line shipped
    more than 30 days after order date, counted by priority.  The correlated
    EXISTS plans as a LEFT SEMI join on the order key with the non-equi date
    comparison as the join residual — one key-partitioned shuffle, no
    decorrelation subquery re-scan, and the semi join short-circuits per
    order (first matching line wins, no fan-out).  The date-window filter on
    orders pushes to the parquet scan."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    sem = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAY")),
        "semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q14_promo_revenue_by_month",
    oracle="""
    SELECT DATE_TRUNC('month', l_shipdate) AS ship_month,
           CAST(CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(19,4))
                         * (1 - CAST(l_discount AS DECIMAL(8,4))) ELSE 0 END), 4)
                AS DECIMAL(38,4)) AS DOUBLE) AS promo_revenue,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))), 4)
                AS DECIMAL(38,4)) AS DOUBLE) AS total_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY DATE_TRUNC('month', l_shipdate)
    """,
)
def q14_promo_revenue_by_month(spark, sf_dir):
    """TPC-H Q14 shape: promo-vs-total revenue per ship month over a
    lineitem⋈part join.  The part side is dimension-sized at any SF, so it
    broadcasts (no fact shuffle for the join); the year filter pushes to the
    lineitem scan; the month rollup then needs exactly one aggregation
    exchange keyed by 12 months with map-side partials.  Revenue stays in
    exact decimal until one final rescale-then-double cast (the q1
    discipline — wide-scale decimal sums cross the 17-significant-digit
    band where decimal→double rounding differs across engines).  The
    promo/total RATIO is left to the reader of the manifest: emitting both
    exact sums instead of their quotient sidesteps the cross-engine decimal
    division scale rules entirely."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    price = dec("l_extendedprice", scale=4, precision=19)
    disc = dec("l_discount", scale=4, precision=8)
    one = F.lit("1").cast("decimal(5,4)")
    rev = price * (one - disc)
    zero = F.lit("0").cast("decimal(28,8)")
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return (
        j.groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("promo_revenue"),
            F.sum(rev).cast("decimal(38,4)").cast("double").alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q19_disjunctive_predicates",
    oracle="""
    SELECT CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                 * (1 - CAST(l_discount AS DECIMAL(8,4)))), 4)
                AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 35)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q19_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 shape: an OR-of-ANDs residual across BOTH join sides.  The
    optimizer-relevant property: Catalyst factors the disjunction into
    single-side implied filters (p_brand ∈ {…}, p_size ≤ 50, l_quantity
    bounds) that PUSH DOWN below the join, so the fact scan prunes before
    the broadcast probe and only the cross-side conjunctions remain as the
    join residual.  Revenue follows the q1 exact-decimal discipline."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    price = dec("l_extendedprice", scale=4, precision=19)
    disc = dec("l_discount", scale=4, precision=8)
    one = F.lit("1").cast("decimal(5,4)")
    rev = price * (one - disc)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 20))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(10, 30)
           & (q >= 10) & (q <= 35))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(20, 50)
           & (q >= 20) & (q <= 50))
    )
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).filter(cond)
    return j.agg(
        F.sum(rev).cast("decimal(38,4)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_VOCAB_TOK_DDB = bpe_token_count_duckdb("x")


@register(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, lang,
               LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                           x -> x != '') AS w
        FROM documents
    ),
    perdoc AS (
        SELECT lang,
               CAST(LEN(w) AS BIGINT) AS n_words,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(w,
                    x -> {_VOCAB_TOK_DDB})), 0) AS BIGINT) AS bpe_tokens,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(w,
                    x -> CASE WHEN ({_VOCAB_TOK_DDB}) = 1 THEN 1 ELSE 0 END)), 0) AS BIGINT)
                 AS single_tok
        FROM words
    ),
    occ AS (
        SELECT lang,
               CAST(SUM(n_words) AS BIGINT) AS n_words,
               CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
               CAST(SUM(single_tok) AS BIGINT) AS single_token_occ
        FROM perdoc GROUP BY lang
    ),
    dv AS (
        SELECT lang, CAST(COUNT(DISTINCT x) AS BIGINT) AS distinct_words
        FROM words, UNNEST(w) AS t(x) GROUP BY lang
    )
    SELECT o.lang, o.n_words, dv.distinct_words, o.bpe_tokens, o.single_token_occ,
           CASE WHEN o.n_words = 0 THEN 0
                ELSE o.single_token_occ * 10000 // o.n_words END AS coverage_x10000,
           CASE WHEN o.n_words = 0 THEN 0
                ELSE o.bpe_tokens * 10000 // o.n_words END AS fertility_x10000
    FROM occ o JOIN dv USING (lang)
    """,
)
def tokenizer_vocab_coverage(spark, sf_dir):
    """Tokenizer fit report per language — the first thing to inspect before
    committing a tokenizer to a corpus: what fraction of word occurrences
    the merge table covers as a SINGLE token, and the fertility
    (tokens-per-word) the trainer will pay per language.  A language with
    low coverage / high fertility is under-served by the merge table (the
    classic multilingual-tokenizer imbalance, cf. the fertility analyses
    in the BLOOM/XGLM tokenizer reports).  Plan: occurrence stats are
    computed per-doc IN-ROW (the `bpe_apply_encode` fold — zero explode,
    zero shuffle) then one tiny groupBy(lang); only the distinct-word
    count needs a word-level explode, and that one shuffles (lang, word)
    pairs bounded by vocabulary, not corpus, after the map-side distinct."""
    tok = bpe_token_count_spark("x")
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # degenerate-scan guard (see sources.registry.spread_scan)
    words = d.select(
        "lang",
        F.expr(r"filter(split(trim(lower(text)), '\\s+'), x -> x != '')").alias("w"),
    )
    # ONE evaluation of the 56-replace chain per word: transform produces the
    # per-word token counts, and both statistics fold the resulting int array
    # (runtime subexpression elimination dedupes the identical transform
    # subtree across the two folds — measured 2.1x vs two independent folds)
    perdoc = words.select(
        "lang",
        F.size("w").cast("long").alias("n_words"),
        F.expr(f"transform(w, x -> ({tok}))").alias("tc"),
    ).select(
        "lang",
        "n_words",
        F.expr("aggregate(tc, cast(0 as bigint), (acc, x) -> acc + x)").alias(
            "bpe_tokens"
        ),
        F.expr(
            "aggregate(tc, cast(0 as bigint), (acc, x) -> acc + IF(x = 1, 1L, 0L))"
        ).alias("single_tok"),
    )
    occ = perdoc.groupBy("lang").agg(
        F.sum("n_words").alias("n_words"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
        F.sum("single_tok").alias("single_token_occ"),
    )
    dv = (
        words.select("lang", F.explode("w").alias("x"))
        .groupBy("lang")
        .agg(F.countDistinct("x").alias("distinct_words"))
    )
    return occ.join(dv, "lang").select(
        "lang",
        "n_words",
        "distinct_words",
        "bpe_tokens",
        "single_token_occ",
        F.expr(
            "CASE WHEN n_words = 0 THEN 0L ELSE (single_token_occ * 10000) div n_words END"
        ).alias("coverage_x10000"),
        F.expr(
            "CASE WHEN n_words = 0 THEN 0L ELSE (bpe_tokens * 10000) div n_words END"
        ).alias("fertility_x10000"),
    )




# --------------------------------------------------------------------------- #
# events_funnel_steps — ordered view -> click -> purchase conversion funnel    #
# --------------------------------------------------------------------------- #


@register(
    "events_funnel_steps",
    oracle="""
    WITH e AS (SELECT user_id, EPOCH_US(ts) AS us, event_type FROM events),
    s1 AS (
        SELECT user_id,
               MIN(us) FILTER (WHERE event_type = 'view') AS t1
        FROM e GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id,
               MIN(CASE WHEN event_type = 'click' AND us > t1 AND us <= t1 + 86400000000 THEN us END) AS t2
        FROM e JOIN s1 USING (user_id) GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id,
               MIN(CASE WHEN event_type = 'purchase' AND us > t2 AND us <= t2 + 86400000000 THEN us END) AS t3
        FROM e JOIN s2 USING (user_id) GROUP BY e.user_id
    ),
    f AS (
        SELECT CAST(COUNT(t1) AS BIGINT) AS n1,
               CAST(COUNT(t2) AS BIGINT) AS n2,
               CAST(COUNT(t3) AS BIGINT) AS n3
        FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
    )
    SELECT 1 AS step_no, 'view' AS step, n1 AS n_users,
           CAST(10000 AS BIGINT) AS conv_from_prev_x10000 FROM f
    UNION ALL
    SELECT 2, 'click', n2,
           CASE WHEN n1 = 0 THEN 0 ELSE n2 * 10000 // n1 END FROM f
    UNION ALL
    SELECT 3, 'purchase', n3,
           CASE WHEN n2 = 0 THEN 0 ELSE n3 * 10000 // n2 END FROM f
    """,
)
def events_funnel_steps(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase): a user reaches
    step k only via events in strict timestamp order AND within 24 h of the
    previous step (epoch-microsecond arithmetic), so a purchase BEFORE the
    first qualifying click — or a week after it — never counts — the semantics product
    analytics tools call a 'strict-order funnel'.  Earliest-greedy is
    optimal (taking the earliest view, then the earliest later click, …
    reaches every step any witness sequence could), so three stacked
    per-user window minima compute it exactly: t1 = min view time,
    t2 = min click after t1, t3 = min purchase after t2.  All three
    Window nodes share ONE user-keyed exchange (same partitioning, no
    re-shuffle — plan-asserted in tests), the per-user reduction rides
    the same keys, and the final 3-row summary is a driver-sized
    aggregate.  Comparisons run in epoch microseconds (timestamp
    DATEDIFF semantics diverge cross-engine).  The oracle derives the
    same times relationally (three dependent aggregate CTEs), so the
    window formulation is value-checked against the set-based
    definition."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    w = W.partitionBy("user_id")
    d1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w)
    )
    d2 = d1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("us") > F.col("t1"))
                & (F.col("us") <= F.col("t1") + 86400000000),
                F.col("us"),
            )
        ).over(w),
    )
    d3 = d2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("us") > F.col("t2"))
                & (F.col("us") <= F.col("t2") + 86400000000),
                F.col("us"),
            )
        ).over(w),
    )
    per_user = d3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    f = per_user.agg(
        F.count("t1").alias("n1"), F.count("t2").alias("n2"), F.count("t3").alias("n3")
    )
    return f.select(
        F.explode(
            F.expr(
                "array("
                "  named_struct('step_no', 1, 'step', 'view', 'n_users', n1,"
                "               'conv_from_prev_x10000', cast(10000 as bigint)),"
                "  named_struct('step_no', 2, 'step', 'click', 'n_users', n2,"
                "               'conv_from_prev_x10000',"
                "               CASE WHEN n1 = 0 THEN 0L ELSE (n2 * 10000) div n1 END),"
                "  named_struct('step_no', 3, 'step', 'purchase', 'n_users', n3,"
                "               'conv_from_prev_x10000',"
                "               CASE WHEN n2 = 0 THEN 0L ELSE (n3 * 10000) div n2 END))"
            )
        ).alias("r")
    ).select("r.step_no", "r.step", "r.n_users", "r.conv_from_prev_x10000")


# --------------------------------------------------------------------------- #
# corpus_datacard — the per-source data card a corpus release ships with       #
# --------------------------------------------------------------------------- #

_DATACARD_ORACLE = f"""
    WITH enc AS (
        SELECT doc_id, source, lang, MD5(text) AS tkey,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(
                    LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                                x -> x != ''),
                    x -> {_VOCAB_TOK_DDB})), 0) AS BIGINT) AS bpe_tokens
        FROM documents
    ),
    dupc AS (SELECT tkey, COUNT(*) AS n_copies FROM enc GROUP BY tkey),
    flagged AS (
        SELECT source, lang, bpe_tokens,
               CASE WHEN n_copies > 1 THEN 1 ELSE 0 END AS is_dup
        FROM enc JOIN dupc USING (tkey)
    ),
    per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens,
               CAST(SUM(is_dup) AS BIGINT) AS dup_docs
        FROM flagged GROUP BY source
    ),
    total AS (SELECT CAST(SUM(bpe_tokens) AS BIGINT) AS total_tokens FROM per_source)
    SELECT source, n_docs, n_langs, bpe_tokens, dup_docs,
           dup_docs * 10000 // n_docs AS dup_pct_x10000,
           bpe_tokens * 10000 // n_docs AS mean_doc_tokens_x10000,
           CASE WHEN total_tokens = 0 THEN 0
                ELSE bpe_tokens * 10000 // total_tokens END AS token_share_x10000
    FROM per_source CROSS JOIN total
"""


@register(
    "corpus_datacard",
    oracle=_DATACARD_ORACLE,
)
def corpus_datacard(spark, sf_dir):
    """The data card every corpus release ships: per source — document count,
    language breadth, exact-duplicate mass, BPE token mass, mean document
    length in tokens, and the source's share of total corpus tokens.  One
    composition over three families (tokenizer encode, exact dedup,
    manifest aggregation).  Plan: token counts are the in-row zero-shuffle
    fold; duplicate detection groups by md5(text) (64-hex key, never the
    payload) and joins back on the same key; the per-source rollup is one
    aggregation over |sources| keys; the corpus total is a 1-row broadcast.
    Shuffles: ONE dup-key exchange (the copy count is a window over the\n    md5 key, not a groupBy+join-back pair) + one source-keyed aggregate —
    all fact-proportional, none quadratic."""
    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        bpe_token_count_spark,
    )

    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")  # degenerate-scan guard (see sources.registry.spread_scan)
    tok = bpe_token_count_spark("x")
    enc = d.select(
        "doc_id",
        "source",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("tkey"),
        F.expr(
            f"aggregate(filter(split(trim(lower(text)), '\\\\s+'), x -> x != ''), "
            f"cast(0 as bigint), (acc, x) -> acc + ({tok}))"
        ).alias("bpe_tokens"),
    )
    flagged = enc.select(
        "source",
        "lang",
        "bpe_tokens",
        (F.count(F.lit(1)).over(W.partitionBy("tkey")) > 1).cast("int").alias("is_dup"),
    )
    per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
        F.sum("is_dup").cast("long").alias("dup_docs"),
    )
    total = per_source.agg(F.sum("bpe_tokens").alias("total_tokens"))
    return per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "n_langs",
        "bpe_tokens",
        "dup_docs",
        F.expr("(dup_docs * 10000) div n_docs").alias("dup_pct_x10000"),
        F.expr("(bpe_tokens * 10000) div n_docs").alias("mean_doc_tokens_x10000"),
        F.expr(
            "CASE WHEN total_tokens = 0 THEN 0L "
            "ELSE (bpe_tokens * 10000) div total_tokens END"
        ).alias("token_share_x10000"),
    )


# --------------------------------------------------------------------------- #
# orders_cohort_ltv — acquisition-cohort revenue matrix                        #
# --------------------------------------------------------------------------- #


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1) AS cohort_m
        FROM orders GROUP BY o_custkey
    ),
    cells AS (
        SELECT f.cohort_m,
               (YEAR(o.o_orderdate) * 12 + MONTH(o.o_orderdate) - 1) - f.cohort_m
                 AS months_since,
               o.o_totalprice
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT cohort_m // 12 AS cohort_year,
           cohort_m % 12 + 1 AS cohort_month,
           CAST(months_since AS BIGINT) AS months_since,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM cells
    GROUP BY cohort_m, months_since
    """,
)
def orders_cohort_ltv(spark, sf_dir):
    """Acquisition-cohort lifetime-value matrix: customers are cohorted by
    their FIRST order month and every subsequent order lands in the
    (cohort, months-since-acquisition) cell — the triangle chart every
    subscription/commerce business reads LTV from.  Month arithmetic runs
    on integer month indices (year*12+month — cross-engine date DIFF
    semantics are a documented hazard), revenue follows the exact-decimal
    discipline.  Plan: one customer-keyed aggregate finds first months,
    one co-partitioned join back (same key — AQE coalesces the exchange
    pair), one cell-keyed aggregate; at any scale every shuffle is keyed
    by customer or by the bounded cohort-cell grid."""
    o = load_table(spark, sf_dir, "orders")
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
    firsts = o.groupBy("o_custkey").agg(F.min(midx).alias("cohort_m"))
    cells = o.join(firsts, "o_custkey").select(
        "cohort_m",
        (midx - F.col("cohort_m")).alias("months_since"),
        "o_totalprice",
    )
    return (
        cells.groupBy("cohort_m", "months_since")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.expr("cohort_m div 12").alias("cohort_year"),
            (F.col("cohort_m") % 12 + 1).alias("cohort_month"),
            F.col("months_since").cast("long").alias("months_since"),
            "n_orders",
            "revenue",
        )
    )


# --------------------------------------------------------------------------- #
# customer_pareto_class — exact ABC / 80-20 classification without a global    #
# sort                                                                        #
# --------------------------------------------------------------------------- #

_PARETO_BUCKETS = 1024


@register(
    "customer_pareto_class",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, cents,
               CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
                 AS rnk,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_cents,
               CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
        FROM rev
    )
    SELECT o_custkey, cents, rnk, cum_cents,
           CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
                WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def customer_pareto_class(spark, sf_dir):
    """Exact Pareto / ABC classification of customers by lifetime revenue —
    the 80/95 cut every inventory and account-tiering analysis starts from —
    computed WITHOUT the single-task global sort the oracle's
    ``ROW_NUMBER() OVER (ORDER BY …)`` implies.  Two-level decomposition
    (the `global_rank_via_sharding` identity, extended from counts to
    SUMS): a 1-row broadcast of max revenue fixes {_nb} value ranges; a
    tiny per-bucket aggregate yields each bucket's row count AND cents
    total, whose descending prefix sums are the bucket offsets; then
    every bucket sorts only its own population in parallel, and
    rank = bucket row-offset + within-bucket row_number,
    cum_cents = bucket cents-offset + within-bucket cents cumsum —
    the telescoping is exact because everything is integer cents.  The
    ABC label is two integer cross-multiplications against the broadcast
    grand total (no percent floats).  At 100 TB the only corpus-keyed
    shuffles are the customer aggregate and the bucket-keyed window; the
    bucket table ({_nb} rows) is the single-partition part."""
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents")
    )
    mx = rev.agg(F.max("cents").alias("mx"))
    bucketed = rev.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        "cents",
        # descending buckets: bucket 0 holds the largest revenues
        F.expr(f"cast(((mx - cents) * {_PARETO_BUCKETS - 1}) div greatest(mx, 1) as int)").alias(
            "bkt"
        ),
    )
    btab = bucketed.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("bcents")
    )
    from pyspark.sql import Window as W

    bw = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = btab.select(
        "bkt",
        F.coalesce(F.sum("n").over(bw), F.lit(0)).cast("long").alias("row_off"),
        F.coalesce(F.sum("bcents").over(bw), F.lit(0)).cast("long").alias("cents_off"),
    )
    total = rev.agg(F.sum("cents").alias("total_cents"))
    iw = W.partitionBy("bkt").orderBy(F.col("cents").desc(), "o_custkey")
    ranked = (
        bucketed.join(F.broadcast(offsets), "bkt")
        .crossJoin(F.broadcast(total))
        .select(
            "o_custkey",
            "cents",
            (F.col("row_off") + F.row_number().over(iw)).cast("long").alias("rnk"),
            (
                F.col("cents_off")
                + F.sum("cents").over(iw.rowsBetween(W.unboundedPreceding, 0))
            ).cast("long").alias("cum_cents"),
            "total_cents",
        )
    )
    return ranked.select(
        "o_custkey",
        "cents",
        "rnk",
        "cum_cents",
        F.expr(
            "CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A' "
            "WHEN cum_cents * 100 <= total_cents * 95 THEN 'B' ELSE 'C' END"
        ).alias("abc_class"),
    )


fill_doc(customer_pareto_class, _nb=_PARETO_BUCKETS)


# --------------------------------------------------------------------------- #
# supplier_concentration_hhi — market-concentration audit per part type        #
# --------------------------------------------------------------------------- #


@register(
    "supplier_concentration_hhi",
    oracle="""
    WITH rev AS (
        SELECT p.p_type, l.l_suppkey,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,2)) * 100 AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_type, l.l_suppkey
    ),
    tot AS (
        SELECT p_type, CAST(SUM(cents) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY p_type
    )
    SELECT r.p_type, t.n_suppliers,
           CAST(SUM(POWER(r.cents * 1000000 // t.total, 2)) AS BIGINT) AS hhi_x1e12
    FROM rev r JOIN tot t ON t.p_type = r.p_type
    GROUP BY r.p_type, t.n_suppliers
    """,
)
def supplier_concentration_hhi(spark, sf_dir):
    """Herfindahl-Hirschman concentration index of supplier revenue within
    each part type — the market-concentration audit (is one supplier
    dominating a category?) that complements `skew_dominant_supplier_orders`
    with the standard-economics summary statistic.  Exactness: per-supplier
    revenue is exact integer cents; shares quantize to parts-per-million by
    integer floor division (c_i·10^6 div total ≤ 10^6, so the squared sum
    is ≤ 10^12·n — comfortably int64, and every term is deterministic —
    no float shares, no cross-engine rounding surface).  Plan: one
    (type, supplier)-keyed aggregate over the broadcast-dimension join,
    one tiny per-type total, one final aggregate over |types|×|suppliers|
    rows — the corpus-sized work is all in the first map-side-combinable
    exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = (F.col("l_extendedprice").cast("decimal(19,2)") * 100).cast("long")
    rev = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(cents).alias("cents"))
    )
    tot = rev.groupBy("p_type").agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n_suppliers")
    )
    shares = rev.join(F.broadcast(tot), "p_type").select(
        "p_type",
        "n_suppliers",
        F.expr("(cents * 1000000) div total").alias("ppm"),
    )
    return shares.groupBy("p_type", "n_suppliers").agg(
        F.sum(F.col("ppm") * F.col("ppm")).alias("hhi_x1e12")
    )


# --------------------------------------------------------------------------- #
# tokenizer_unigram_viterbi — SentencePiece-style Viterbi segmentation         #
# --------------------------------------------------------------------------- #

_UV_MAX_PIECE = 4


@register(
    "tokenizer_unigram_viterbi",
    oracle=f"""
    WITH RECURSIVE words0 AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS w
              FROM documents)
        WHERE LEN(w) > 1 AND regexp_matches(w, '^[a-z0-9]+$')
        GROUP BY w
    ),
    occ AS (
        SELECT w, freq,
               CAST(tj.j AS BIGINT) AS b,
               CAST(tj.j + tl.l AS BIGINT) AS i,
               SUBSTRING(w, CAST(tj.j AS BIGINT) + 1, CAST(tl.l AS BIGINT)) AS p
        FROM words0,
             UNNEST(RANGE(1, {_UV_MAX_PIECE} + 1)) AS tl(l),
             UNNEST(RANGE(0, LEN(w))) AS tj(j)
        WHERE tl.l <= LEN(w) AND tj.j + tl.l <= LEN(w)
    ),
    sc AS (SELECT p, CAST(SUM(freq) AS BIGINT) AS s FROM occ GROUP BY p),
    edges AS (SELECT o.w, o.b, o.i, o.p, sc.s FROM occ o JOIN sc USING (p)),
    paths AS (
        SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS np,
               CAST(0 AS BIGINT) AS score, '' AS parts
        FROM words0
        UNION ALL
        SELECT pa.w, e.i, pa.np + 1, pa.score + e.s,
               CASE WHEN pa.parts = '' THEN e.p
                    ELSE pa.parts || ' ' || e.p END
        FROM paths pa JOIN edges e ON e.w = pa.w AND e.b = pa.pos
    ),
    best AS (
        SELECT w, np, score, parts,
               ROW_NUMBER() OVER (PARTITION BY w
                                  ORDER BY np ASC, score DESC, parts ASC) AS rn
        FROM paths WHERE pos = LEN(w)
    )
    SELECT b.w, w0.freq, b.np AS n_pieces, b.score AS piece_score,
           b.parts AS segmentation
    FROM best b JOIN words0 w0 USING (w)
    WHERE b.rn = 1
    """,
)
def tokenizer_unigram_viterbi(spark, sf_dir):
    """SentencePiece-style UNIGRAM Viterbi segmentation (Kudo, ACL'18) —
    the inference-side tokenizer op the BPE family doesn't cover: segment
    every distinct corpus word into vocabulary pieces (all substrings up to
    {_UV_MAX_PIECE} chars, scored by corpus occurrence mass) by EXACT
    dynamic programming, under the integer-deterministic objective
    (fewest pieces, then highest total piece score, then
    lexicographically-least segmentation — the engine's
    integers-not-floats discipline standing in for Σ log p).

    Engine: one corpus-sized census shuffle, then everything is
    vocabulary-sized — the piece explode, the piece-score join, and the
    whole DP as a single map-side higher-order ``aggregate`` over each
    word's edge list (`operators.text.unigram_viterbi_segment`; the loop
    is over character positions inside the row, never over the table).
    The oracle takes the OPPOSITE strategy — it enumerates every
    segmentation path of every word via a recursive CTE and picks the best
    by the same key — so the hash match proves the DP optimal against an
    exhaustive search, not against a reimplementation of itself."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"))
        .filter((F.length("w") > 1) & F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return unigram_viterbi_segment(words, max_piece_len=_UV_MAX_PIECE)


fill_doc(tokenizer_unigram_viterbi, _UV_MAX_PIECE=_UV_MAX_PIECE)


# --------------------------------------------------------------------------- #
# stats_bootstrap_ci_price — one-pass Poisson bootstrap confidence intervals   #
# --------------------------------------------------------------------------- #

_BOOT_B = 32
_BOOT_GROUPS = 4  # one md5 per (row, group); each md5 yields 8 16-bit draws
# Poisson(1) CDF thresholds as 4-char lowercase-hex 16-bit cutoffs:
# weight(u) = #{t : u >= t} reproduces P(W=k) = e^-1/k! (to 1/65536
# resolution) from a uniform 16-bit hex draw.  Fixed-width lowercase hex
# compares LEXICOGRAPHICALLY identically to numerically in both engines,
# so no hex→int conversion ever runs — the 60-bit conv() variant measured
# 4× slower on the ×32 replica explode (12.0 vs 2.8 s warm at sf0.1).
_POISSON1_CDF_HEX = ["5e2d", "bc5a", "eb71", "fb23", "ff10", "ffd9", "fffa", "ffff"]


@register(
    "stats_bootstrap_ci_price",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag, l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * 100 AS BIGINT) AS cents
        FROM lineitem
    ),
    rep AS (
        SELECT l_returnflag, cents,
               CAST(tg.g * 8 + tk.k AS BIGINT) AS b,
               SUBSTR(MD5(
                   'boot:' || CAST(l_orderkey AS VARCHAR) || ':'
                           || CAST(l_linenumber AS VARCHAR) || ':'
                           || CAST(tg.g AS VARCHAR)),
                      CAST(tk.k * 4 + 1 AS BIGINT), 4) AS u
        FROM base,
             UNNEST(RANGE(0, {_BOOT_GROUPS})) AS tg(g),
             UNNEST(RANGE(0, 8)) AS tk(k)
    ),
    wt AS (
        SELECT l_returnflag, b, cents,
               LEN(LIST_FILTER({_POISSON1_CDF_HEX}, t -> u >= t)) AS w
        FROM rep
    ),
    per_rep AS (
        SELECT l_returnflag, b,
               CAST(SUM(w * cents) AS BIGINT) AS sc,
               CAST(SUM(w) AS BIGINT) AS sw
        FROM wt GROUP BY 1, 2
    ),
    means AS (SELECT l_returnflag, sc / sw AS m FROM per_rep),
    pt AS (
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS mean_cents
        FROM base GROUP BY 1
    )
    SELECT p.l_returnflag, p.n_rows, p.mean_cents,
           (LIST(m ORDER BY m))[2] AS ci_lo_cents,
           (LIST(m ORDER BY m))[{_BOOT_B - 1}] AS ci_hi_cents
    FROM means j JOIN pt p USING (l_returnflag)
    GROUP BY p.l_returnflag, p.n_rows, p.mean_cents
    """,
)
def stats_bootstrap_ci_price(spark, sf_dir):
    """ONE-PASS Poisson bootstrap confidence intervals (Chamandy et al.,
    'Estimating Uncertainty for Massive Data Streams', Google 2012) — the
    resampling-uncertainty family the engine lacked: per return flag, the
    mean line-item price with a rank-based bootstrap interval from
    {_BOOT_B} replicas, WITHOUT materializing any resample.  Each row's
    weight in replica b is Poisson(1)-distributed but fully deterministic:
    an inverse-CDF lookup (integer thresholds in the 60-bit hash domain)
    on the portable md5 hash of (row key, b) — reruns, engines, and
    repartitionings agree bit-for-bit.

    Determinism discipline: weighted sums are EXACT BIGINT cents (weight ×
    cents), each replica mean is one correctly-rounded long/long → double
    division, and the interval is RANK-based (2nd smallest / 2nd largest
    of {_BOOT_B} sorted replica means ≈ a 94% CI) — no float accumulation
    anywhere, so the oracle hash-matches exactly.  The inverse-CDF draw
    compares fixed-width lowercase HEX SLICES lexicographically (=
    numerically) against hex thresholds: 4 md5s per row (8 16-bit draws
    each) instead of {_BOOT_B} hash→bigint conversions — measured 4×
    cheaper with identical determinism (12.0 → 2.8 s warm at sf0.1).

    Scale: the replica explode is a map-side ×{_BOOT_B} row expansion that
    collapses immediately under map-side partial aggregation to (flag, b)
    groups — the shuffle moves {_BOOT_B} rows per flag, never data.  This
    is how uncertainty is estimated over 100 TB: one pass, no resample
    materialization, tiny exchange."""
    from airflow_cms_inpatient_etl_spark.sources.registry import spread_scan

    li = load_table(spark, sf_dir, "lineitem")
    # the x32 replica explode feeds 8 md5+conv per source row into the map
    # stage — spread the degenerate single-file fixture scan first (guarded
    # no-op on a parallel production scan).  The point-estimate aggregate and
    # the replica expansion each read this projection; snapshotting it once
    # was measured (optimization round 16, same-session alternating A/B at
    # sf0.1: 2.38 s recompute vs 2.50 s snapshot) a WASH locally, and at
    # 100 TB materializing a fact-sized projection to save one columnar
    # re-scan is the wrong trade — deliberately left recomputed
    base = spread_scan(
        li.select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice").cast("decimal(19,4)") * 100)
            .cast("long")
            .alias("cents"),
        ),
        "l_orderkey",
    )
    pt = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("mean_cents"),
    )
    # one md5 per (row, group): hexes materializes the 4 digests in their own
    # transform so the nested slice lambda never recomputes them (HOF lambdas
    # defeat CSE across independent lambdas)
    key = F.concat(
        F.lit("boot:"),
        F.col("l_orderkey").cast("string"),
        F.lit(":"),
        F.col("l_linenumber").cast("string"),
        F.lit(":"),
    )
    hexes = F.transform(
        F.sequence(F.lit(0), F.lit(_BOOT_GROUPS - 1)),
        lambda g: F.struct(
            g.alias("g"), F.md5(F.concat(key, g.cast("string"))).alias("hx")
        ),
    )
    draws = F.flatten(
        F.transform(
            hexes,
            lambda h: F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda k: F.struct(
                    (h["g"] * 8 + k).alias("b"),
                    F.substring(h["hx"], k * 4 + 1, F.lit(4)).alias("u"),
                ),
            ),
        )
    )
    rep = base.select(
        "l_returnflag", "cents", F.explode(draws).alias("d")
    ).select("l_returnflag", "cents", F.col("d.b").alias("b"), F.col("d.u").alias("u"))
    thr = F.array(*[F.lit(t) for t in _POISSON1_CDF_HEX])
    wt = rep.select(
        "l_returnflag",
        "b",
        "cents",
        F.size(F.filter(thr, lambda t: F.col("u") >= t)).alias("w"),
    )
    per_rep = wt.groupBy("l_returnflag", "b").agg(
        F.sum(F.col("w").cast("long") * F.col("cents")).cast("long").alias("sc"),
        F.sum("w").cast("long").alias("sw"),
    )
    means = per_rep.select(
        "l_returnflag", (F.col("sc") / F.col("sw")).alias("m")
    )
    arr = F.array_sort(F.collect_list("m"))
    ci = means.groupBy("l_returnflag").agg(
        F.element_at(arr, 2).alias("ci_lo_cents"),
        F.element_at(arr, _BOOT_B - 1).alias("ci_hi_cents"),
    )
    return pt.join(ci, "l_returnflag").select(
        "l_returnflag", "n_rows", "mean_cents", "ci_lo_cents", "ci_hi_cents"
    )


fill_doc(stats_bootstrap_ci_price, _BOOT_B=_BOOT_B)


# --------------------------------------------------------------------------- #
# ml_auc_exact — tie-corrected ROC-AUC via rank statistics (round 11)          #
# --------------------------------------------------------------------------- #


@register(
    "ml_auc_exact",
    oracle="""
    WITH base AS (
        SELECT DAYOFWEEK(ts) + 1 AS dow,  -- DuckDB 0=Sunday; Spark dayofweek 1=Sunday
               CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events WHERE value IS NOT NULL
    ),
    hist AS (
        SELECT dow, cents, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS npos
        FROM base GROUP BY dow, cents
    ),
    cum AS (
        SELECT dow, n, npos,
               CAST(SUM(n) OVER (PARTITION BY dow ORDER BY cents) AS BIGINT) AS cumn
        FROM hist
    ),
    agg AS (
        SELECT dow,
               CAST(SUM(npos) AS BIGINT) AS n_pos,
               CAST(SUM(n - npos) AS BIGINT) AS n_neg,
               CAST(SUM(npos * (2 * (cumn - n) + n + 1)) AS BIGINT) AS rs2
        FROM cum GROUP BY dow
    )
    SELECT CAST(dow AS BIGINT) AS dow, n_pos, n_neg,
           rs2 - n_pos * (n_pos + 1) AS auc_num2,
           CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
               / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """,
)
def ml_auc_exact(spark, sf_dir):
    """Exact tie-corrected ROC-AUC of purchase value as a purchase predictor,
    per day-of-week — the Mann-Whitney rank statistic computed ENTIRELY in
    integer arithmetic: per (dow, score) histogram, cumulative rank offsets,
    2x-scaled tie-averaged rank sums (so half-ranks stay integral), and ONE
    terminal double division of two exact bigints (correctly rounded
    identically in every engine — the events_dow_seasonality discipline).
    This is the model-eval primitive training pipelines recompute at corpus
    scale; the usual implementation sorts all scores globally — here the
    global sort collapses to a score-HISTOGRAM window (distinct scores per
    partition, not rows), after one map-side partial aggregate over the
    corpus.  DOW parity: Spark dayofweek is 1=Sunday..7; DuckDB DAYOFWEEK is 0=Sunday..6, so the oracle adds 1."""
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.dayofweek("ts").cast("long").alias("dow"),
            (F.col("value").cast("decimal(14,2)") * 100).cast("long").alias("cents"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
        )
    )
    hist = base.groupBy("dow", "cents").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("npos")
    )
    w = W.partitionBy("dow").orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.withColumn("cumn", F.sum("n").over(w))
    agg = cum.groupBy("dow").agg(
        F.sum("npos").alias("n_pos"),
        F.sum(F.col("n") - F.col("npos")).alias("n_neg"),
        F.sum(
            F.col("npos") * (2 * (F.col("cumn") - F.col("n")) + F.col("n") + 1)
        ).alias("rs2"),
    )
    num2 = F.col("rs2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "dow",
        "n_pos",
        "n_neg",
        num2.alias("auc_num2"),
        (num2.cast("double") / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")).alias(
            "auc"
        ),
    )


# --------------------------------------------------------------------------- #
# ml_target_encoding_loo — leakage-free categorical feature encoding           #
# --------------------------------------------------------------------------- #


@register(
    "ml_target_encoding_loo",
    oracle="""
    WITH base AS (
        SELECT o.o_orderkey, c.c_nationkey AS nation,
               CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    stats AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM base GROUP BY nation
    )
    SELECT b.o_orderkey, b.nation, b.cents,
           s.cnt - 1 AS loo_cnt,
           s.sum_cents - b.cents AS loo_sum_cents,
           CASE WHEN s.cnt > 1
                THEN CAST(s.sum_cents - b.cents AS DOUBLE) / CAST(s.cnt - 1 AS DOUBLE)
           END AS enc
    FROM base b JOIN stats s USING (nation)
    """,
)
def ml_target_encoding_loo(spark, sf_dir):
    """Leave-one-out target encoding of the customer's nation against order
    value — the leakage-free categorical-feature primitive (a naive
    per-category mean lets every row see its own target; LOO subtracts the
    row's contribution before averaging, so train-time encodings never leak
    the row's own label).  All sums are exact bigint cents; the encoding is
    ONE terminal double division of two exact integers (identically rounded
    in every engine).  Scale shape: one dim join orders→customer (AQE
    broadcasts the smaller side), one map-side partial aggregate to ~25
    nation rows, and a broadcast of those stats back over the fact scan —
    the encode pass itself is corpus-shuffle-free; singleton categories
    yield NULL (no 0/0), exactly as the oracle's CASE does."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", F.col("c_nationkey").alias("nation"), cents.alias("cents")
    )
    stats = base.groupBy("nation").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("cents").alias("sum_cents")
    )
    loo_sum = F.col("sum_cents") - F.col("cents")
    loo_cnt = F.col("cnt") - 1
    return base.join(F.broadcast(stats), "nation").select(
        "o_orderkey",
        "nation",
        "cents",
        loo_cnt.alias("loo_cnt"),
        loo_sum.alias("loo_sum_cents"),
        F.when(
            F.col("cnt") > 1, loo_sum.cast("double") / loo_cnt.cast("double")
        ).alias("enc"),
    )


# --------------------------------------------------------------------------- #
# recsys_negative_samples — deterministic hash-based negative sampling         #
# --------------------------------------------------------------------------- #

_NEG_DRAWS = 3  # candidate draws per user (survivors after the anti-join vary)


@register(
    "recsys_negative_samples",
    oracle=f"""
    WITH pos AS (
        SELECT DISTINCT user_id, CAST(props->>'k' AS BIGINT) AS item
        FROM events WHERE event_type = 'click' AND (props->>'k') IS NOT NULL
    ),
    items AS (
        SELECT item, ROW_NUMBER() OVER (ORDER BY item) - 1 AS idx FROM (
            SELECT DISTINCT item FROM pos
        )
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM items),
    draws AS (
        SELECT u.user_id, j.j,
               CAST('0x' || SUBSTR(MD5(u.user_id || ':' || j.j), 1, 15) AS BIGINT)
                   % {"(SELECT n_items FROM n)"} AS idx
        FROM (SELECT DISTINCT user_id FROM pos) u
        CROSS JOIN (SELECT UNNEST(RANGE(1, {_NEG_DRAWS} + 1)) AS j) j
    ),
    cand AS (
        SELECT d.user_id, CAST(d.j AS BIGINT) AS draw, i.item AS neg_item
        FROM draws d JOIN items i USING (idx)
    )
    SELECT c.user_id, c.draw, c.neg_item
    FROM cand c
    ANTI JOIN pos p ON p.user_id = c.user_id AND p.item = c.neg_item
    """,
)
def recsys_negative_samples(spark, sf_dir):
    """Deterministic negative sampling for implicit-feedback training: for
    every user with click positives, draw {_NEG_DRAWS} candidate items via a
    portable seeded hash (md5-prefix of user:draw) mapped onto the
    dense-ranked item vocabulary, then ANTI-JOIN the user's true positives —
    the false-negative filter most naive samplers skip.  Everything is
    reproducible data, not RNG state: retraining or backfilling regenerates
    byte-identical negatives (the property that makes offline metrics
    comparable across runs).  Scale shape: the item index is a dim-sized
    broadcast; candidate generation is a map-side explode over users; the
    only fact-sized exchange is the (user, item) anti-join.  At 100 TB the
    dense rank comes from the item dim's bucketed key, not a window."""
    ev = load_table(spark, sf_dir, "events")
    pos = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id", F.get_json_object("props", "$.k").cast("long").alias("item")
        )
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    items = pos.select("item").distinct().select(
        "item",
        (F.row_number().over(W.orderBy("item")) - 1).cast("long").alias("idx"),
    )
    n_items = items.agg(F.count(F.lit(1)).alias("n_items"))
    users = pos.select("user_id").distinct()
    draws = (
        users.crossJoin(F.broadcast(n_items))
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(1), F.lit(_NEG_DRAWS))).alias("draw"),
            "n_items",
        )
        .select(
            "user_id",
            F.col("draw").cast("long").alias("draw"),
            (hash60(F.concat_ws(":", F.col("user_id"), F.col("draw"))) % F.col("n_items")).alias(
                "idx"
            ),
        )
    )
    cand = draws.join(F.broadcast(items), "idx").select(
        "user_id", "draw", F.col("item").alias("neg_item")
    )
    return cand.join(
        pos.withColumnRenamed("item", "neg_item"), ["user_id", "neg_item"], "left_anti"
    )


fill_doc(recsys_negative_samples, _NEG_DRAWS=_NEG_DRAWS)


# --------------------------------------------------------------------------- #
# ml_calibration_bins — reliability-diagram bins in integer arithmetic         #
# --------------------------------------------------------------------------- #


@register(
    "ml_calibration_bins",
    oracle="""
    WITH scored AS (
        SELECT (CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) % 1000) AS score_mills,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events WHERE value IS NOT NULL
    )
    SELECT score_mills // 100 AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
           CAST(SUM(score_mills) * 1000 // COUNT(*) AS BIGINT) AS mean_score_ppm
    FROM scored GROUP BY 1
    """,
)
def ml_calibration_bins(spark, sf_dir):
    """Reliability-diagram (calibration) bins for a pseudo-probability score
    against the purchase label: 10 equal-width bins, per-bin support,
    positive count, observed positive rate, and mean predicted score — the
    two ppm columns are what a calibration plot/ECE computation consumes,
    and keeping BOTH as integer parts-per-million (single integer division
    per bin) makes the whole diagram engine-exact with no float
    accumulation anywhere.  The score is a deterministic value-derived
    stand-in (cents mod 1000 as millis); production swaps in a model score
    column and keeps every shape downstream.  One map-side bin pass + a
    10-group rollup — the cheapest possible eval query at any corpus size."""
    scored = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            (
                (F.col("value").cast("decimal(14,2)") * 100).cast("long") % 1000
            ).alias("score_mills"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
        )
    )
    return scored.groupBy(
        F.expr("score_mills div 100").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
        F.expr("sum(pos) * 1000000 div count(*)").alias("pos_rate_ppm"),
        F.expr("sum(score_mills) * 1000 div count(*)").alias("mean_score_ppm"),
    )


# --------------------------------------------------------------------------- #
# sketch_qdigest_quantiles — mergeable rank sketch with PROVEN error bounds    #
# --------------------------------------------------------------------------- #
_QD_BITS = 24  # l_extendedprice <= ~105k at ANY TPC-H SF -> cents < 2^24
_QD_RADIX = 4  # 16-ary tree: 7 node levels over 24 bits (census 3.5x cheaper
# than binary for a (7*16)/8192 = 1.37%-of-n rank bound — operator docstring)
_QD_LEVELS = _QD_BITS // _QD_RADIX  # leaf level index; path length LEVELS+1
_QD_BOUND_NUM = (_QD_LEVELS + 1) * (1 << _QD_RADIX)  # bound = NUM*n/eps_den
_QD_QUANTILES = [("q25", 0.25), ("q50", 0.50), ("q75", 0.75), ("q90", 0.90), ("q99", 0.99)]


@register("sketch_qdigest_quantiles", oracle=QDIGEST_QUANTILES_ORACLE)
def sketch_qdigest_quantiles(spark, sf_dir):
    """Quantiles from a q-digest-style dyadic rank sketch (operators/sketch.py)
    over l_extendedprice cents — the mergeable-percentile gap in the sketch
    family (CMS covers frequency, HLL covers cardinality; this covers rank).

    The sketch keeps only radix-16 tree nodes with count > n/8192 — at most
    (6+1)*8192 cells NO MATTER HOW LARGE n is — and its cumulative-residual
    CDF under-estimates any true rank by at most 7*16*n/8192 (~1.37 % of n).
    The query picks, per target quantile q, the smallest kept right-endpoint
    whose estimated rank reaches ceil(q*n), then VERIFIES the theory against
    the full data: count(x <= v) >= target (the estimate never lands below
    the requested rank) and count(x < v) < target + bound (it overshoots by
    less than the proven bound).  DuckDB recomputes n exactly and asserts
    the three claims are literally TRUE — a drifted sketch flips a flag and
    hash-mismatches, the ``approx_aggregates`` bounds-oracle doctrine.

    Scale: two narrow shuffles build the tree (distinct-cents collapse, then
    the 7-level ancestor census over the DISTINCT histogram); everything
    downstream is sketch-sized and broadcast; the verification pass scans the
    data once with a x5 map-side conditional-sum expansion that collapses
    under partial aggregation to 5 groups.  All comparisons are integer
    (cnt*8192 > n, (cnt_lt - r)*8192 < 112*n) — no float thresholds, exact at
    n = 10^12.  Merging shards is union + re-sum and is EXACT (see
    tests/test_round12.py associativity property)."""
    from airflow_cms_inpatient_etl_spark.operators.sketch import dyadic_tree
    from airflow_cms_inpatient_etl_spark.sources.registry import spread_scan

    li = load_table(spark, sf_dir, "lineitem")
    # the single-file fixture scan is one task; both the distinct-cents
    # partial aggregation and the x5 verification expansion do their map
    # work pre-exchange, so spread the scan first (guarded no-op on a
    # parallel production scan) — measured 4.0 -> 3.6 s interleaved A/B
    vals = spread_scan(
        li.select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        ),
        "l_orderkey",
    ).select("cents")
    # radix passed explicitly everywhere so _QD_BOUND_NUM / _QD_LEVELS (derived
    # from _QD_RADIX) can never silently diverge from the tree geometry if the
    # operators' default radix changes.
    tree = snapshot(dyadic_tree(vals, "cents", _QD_BITS, radix=_QD_RADIX))
    return _qdigest_flags_from_tree(spark, tree, vals)


def _qdigest_flags_from_tree(spark, tree, vals):
    """Prune -> CDF -> quantile pick -> full-data verification, shared by the
    batch query above and ``streaming_percentiles_live`` (which feeds the
    SAME tail from a census maintained as streaming aggregation state —
    cell-exact equal to the batch tree by add-associativity, so the batch
    oracle transfers verbatim).  ``tree``: materialized (level, node, cnt);
    ``vals``: the cents column for the verification scan."""
    from airflow_cms_inpatient_etl_spark.operators.sketch import (
        QD_EPS_DEN,
        qdigest_prune,
        qdigest_rank_cdf,
    )

    n_df = tree.filter(F.col("level") == 0).select(F.col("cnt").alias("n_rows"))
    kept = qdigest_prune(tree, QD_EPS_DEN, radix=_QD_RADIX)
    cdf = qdigest_rank_cdf(kept, _QD_BITS, radix=_QD_RADIX)

    qs = spark.createDataFrame(_QD_QUANTILES, "q_label string, frac double")
    targets = qs.crossJoin(F.broadcast(n_df)).select(
        "q_label",
        "n_rows",
        F.ceil(F.col("frac") * F.col("n_rows")).cast("long").alias("r"),
    )
    est = (
        targets.join(F.broadcast(cdf), F.col("cum_est") >= F.col("r"))
        .groupBy("q_label", "n_rows", "r")
        .agg(F.min("upper").alias("v_est"))
    )
    sketch_size = kept.agg(F.count(F.lit(1)).alias("sk_cells"))
    verified = (
        vals.crossJoin(F.broadcast(est))
        .groupBy("q_label", "n_rows", "r", "v_est")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("v_est"), 1).otherwise(0)).alias("cnt_le"),
            F.sum(F.when(F.col("cents") < F.col("v_est"), 1).otherwise(0)).alias("cnt_lt"),
        )
    )
    return verified.crossJoin(F.broadcast(sketch_size)).select(
        "q_label",
        "n_rows",
        (F.col("cnt_le") >= F.col("r")).alias("rank_not_below_target"),
        (
            (F.col("cnt_lt") - F.col("r")) * QD_EPS_DEN
            < F.col("n_rows") * _QD_BOUND_NUM
        ).alias("rank_within_bound"),
        (F.col("sk_cells") <= (_QD_LEVELS + 1) * QD_EPS_DEN).alias("sketch_bounded"),
    )


# --------------------------------------------------------------------------- #
# sketch_theta_set_ops — KMV distinct-count sketches with SET ALGEBRA          #
# --------------------------------------------------------------------------- #
_KMV_HASH_SEED = "kmv:"
_KMV_2_60 = float(1 << 60)


@register(
    "sketch_theta_set_ops",
    oracle="""
    WITH base AS (
        SELECT DISTINCT
               CASE WHEN EXTRACT(year FROM o_orderdate) = 1995 THEN 'a' ELSE 'b' END AS set_id,
               o_custkey
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
    ),
    h AS (
        SELECT set_id, o_custkey,
               CAST('0x' || SUBSTR(MD5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv
        FROM base
    ),
    sk AS (
        SELECT set_id, hv,
               ROW_NUMBER() OVER (PARTITION BY set_id ORDER BY hv) AS rn
        FROM h
        QUALIFY rn <= 256
    ),
    per_set AS (
        SELECT e.set_id, e.cnt,
               CASE WHEN s.h_k IS NULL THEN CAST(e.cnt AS DOUBLE)
                    ELSE 255.0 * 1152921504606846976.0 / CAST(s.h_k AS DOUBLE)
               END AS est
        FROM (SELECT set_id, COUNT(*) AS cnt FROM h GROUP BY set_id) e
        JOIN (SELECT set_id,
                     MAX(CASE WHEN rn = 256 THEN hv END) AS h_k
              FROM sk GROUP BY set_id) s USING (set_id)
    ),
    ps AS (
        SELECT MAX(CASE WHEN set_id = 'a' THEN est END) AS est_a,
               MAX(CASE WHEN set_id = 'b' THEN est END) AS est_b
        FROM per_set
    ),
    su AS (SELECT DISTINCT hv FROM sk ORDER BY hv LIMIT 256),
    us AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_eff, MAX(hv) AS h_k_u FROM su
    ),
    ue AS (
        SELECT k_eff,
               CASE WHEN k_eff < 256 THEN CAST(k_eff AS DOUBLE)
                    ELSE 255.0 * 1152921504606846976.0 / CAST(h_k_u AS DOUBLE)
               END AS est_u
        FROM us
    ),
    skp AS (
        SELECT hv,
               MAX(CASE WHEN set_id = 'a' THEN 1 ELSE 0 END) AS ia,
               MAX(CASE WHEN set_id = 'b' THEN 1 ELSE 0 END) AS ib
        FROM sk GROUP BY hv
    ),
    m AS (
        SELECT CAST(COALESCE(SUM(skp.ia * skp.ib), 0) AS BIGINT) AS matches
        FROM su JOIN skp USING (hv)
    ),
    piv AS (
        SELECT o_custkey,
               MAX(CASE WHEN set_id = 'a' THEN 1 ELSE 0 END) AS ia,
               MAX(CASE WHEN set_id = 'b' THEN 1 ELSE 0 END) AS ib
        FROM h GROUP BY o_custkey
    ),
    ex AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_union,
               CAST(SUM(ia * ib) AS BIGINT) AS n_int,
               CAST(SUM(ia) AS BIGINT) AS n_a,
               CAST(SUM(ib) AS BIGINT) AS n_b
        FROM piv
    ),
    one AS (
        SELECT ex.*, ps.*, ue.*, m.matches,
               CAST(m.matches AS DOUBLE) * ue.est_u / CAST(ue.k_eff AS DOUBLE) AS est_i
        FROM ex, ps, ue, m
    )
    SELECT measure, n_exact, est, within_bound FROM (
        SELECT 'set_a' AS measure, n_a AS n_exact, est_a AS est,
               ABS(est_a - CAST(n_a AS DOUBLE)) <= 0.25 * CAST(n_a AS DOUBLE) AS within_bound,
               1 AS ord
        FROM one
        UNION ALL
        SELECT 'set_b', n_b, est_b,
               ABS(est_b - CAST(n_b AS DOUBLE)) <= 0.25 * CAST(n_b AS DOUBLE), 2
        FROM one
        UNION ALL
        SELECT 'union', n_union, est_u,
               ABS(est_u - CAST(n_union AS DOUBLE)) <= 0.25 * CAST(n_union AS DOUBLE), 3
        FROM one
        UNION ALL
        SELECT 'intersection', n_int, est_i,
               ABS(est_i - CAST(n_int AS DOUBLE)) <= 0.25 * CAST(n_union AS DOUBLE), 4
        FROM one
    ) ORDER BY ord
    """,
)
def sketch_theta_set_ops(spark, sf_dir):
    """KMV ("theta") distinct-count sketches with SET ALGEBRA — the gap HLL
    leaves open: ``approx_distinct_sketch_merge`` unions HLL registers, but
    no HLL composition can INTERSECT two sketches.  KMV keeps the k = 256
    minimum portable-md5 hash values per set (here: distinct customers
    ordering in 1995 vs in 1996), so

      * per-set estimate  (k-1) * 2^60 / h_k  (exact when the set fits),
      * union = k smallest of the merged sketches — EXACTLY the KMV of
        A u B (merge is lossless; associativity property-tested),
      * intersection = Beyer et al.'s ratio estimator: the fraction of the
        union sample present in BOTH input sketches, times est(A u B) —
        the repeat-customer count from two 2-KiB summaries.

    Every estimate is recomputed by the DuckDB oracle from the SAME md5
    hash family — the sketch algebra itself hash-matches bit-for-bit, and
    the ``within_bound`` booleans additionally assert the 4-sigma accuracy
    claim (sigma ~ 1/sqrt(k-2) ~ 6.3 %) against exact counts, both
    doctrines at once.

    Scale: the k minima are found with NO global sort — the exact per-set
    count (emitted anyway) sets a 4x-oversampled hash prefilter
    (threshold 2^60*4k/n, Chernoff shortfall < e^-k), so the per-set
    row_number window sees ~1k survivors at ANY cardinality; everything
    downstream is sketch-sized (<= 512 rows) and broadcast."""
    from airflow_cms_inpatient_etl_spark.operators.sketch import (
        KMV_K,
        kmv_merge,
        kmv_sketch,
    )

    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    base = (
        o.filter(yr.isin(1995, 1996))
        .select(
            F.when(yr == 1995, F.lit("a")).otherwise(F.lit("b")).alias("set_id"),
            "o_custkey",
        )
        .distinct()
    )
    hashed = base.select(
        "set_id",
        "o_custkey",
        hash60(F.concat(F.lit(_KMV_HASH_SEED), F.col("o_custkey").cast("string"))).alias("hv"),
    )
    hashed = snapshot(hashed)  # sketch + exact verification both read it

    sk = kmv_sketch(hashed, "set_id", "hv", KMV_K)
    sk = snapshot(sk)  # feeds per-set theta, union merge, and membership

    est_expr = (
        F.lit(float(KMV_K - 1)) * F.lit(_KMV_2_60) / F.col("h_k").cast("double")
    )
    per_set = (
        hashed.groupBy("set_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(
            sk.groupBy("set_id").agg(
                F.max(F.when(F.col("rn") == KMV_K, F.col("hv"))).alias("h_k")
            ),
            "set_id",
        )
        .select(
            "set_id",
            "cnt",
            F.when(F.col("h_k").isNull(), F.col("cnt").cast("double"))
            .otherwise(est_expr)
            .alias("est"),
        )
    )
    ps = per_set.agg(
        F.max(F.when(F.col("set_id") == "a", F.col("est"))).alias("est_a"),
        F.max(F.when(F.col("set_id") == "b", F.col("est"))).alias("est_b"),
    )

    su = kmv_merge(sk, "hv", KMV_K)
    su = snapshot(su)  # theta_U and membership both read it
    ue = su.agg(
        F.count(F.lit(1)).alias("k_eff"), F.max("hv").alias("h_k_u")
    ).select(
        "k_eff",
        F.when(F.col("k_eff") < KMV_K, F.col("k_eff").cast("double"))
        .otherwise(
            F.lit(float(KMV_K - 1)) * F.lit(_KMV_2_60) / F.col("h_k_u").cast("double")
        )
        .alias("est_u"),
    )

    skp = sk.groupBy("hv").agg(
        F.max(F.when(F.col("set_id") == "a", 1).otherwise(0)).alias("ia"),
        F.max(F.when(F.col("set_id") == "b", 1).otherwise(0)).alias("ib"),
    )
    m = su.join(skp, "hv").agg(
        F.coalesce(F.sum(F.col("ia") * F.col("ib")), F.lit(0)).cast("long").alias("matches")
    )

    piv = hashed.groupBy("o_custkey").agg(
        F.max(F.when(F.col("set_id") == "a", 1).otherwise(0)).alias("ia"),
        F.max(F.when(F.col("set_id") == "b", 1).otherwise(0)).alias("ib"),
    )
    ex = piv.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.sum(F.col("ia") * F.col("ib")).alias("n_int"),
        F.sum("ia").alias("n_a"),
        F.sum("ib").alias("n_b"),
    )

    one = (
        ex.crossJoin(F.broadcast(ps))
        .crossJoin(F.broadcast(ue))
        .crossJoin(F.broadcast(m))
        .withColumn(
            "est_i",
            F.col("matches").cast("double") * F.col("est_u") / F.col("k_eff").cast("double"),
        )
    )

    def _row(measure: str, n_col: str, est_col: str, bound_vs: str):
        return F.struct(
            F.lit(measure).alias("measure"),
            F.col(n_col).cast("long").alias("n_exact"),
            F.col(est_col).alias("est"),
            (
                F.abs(F.col(est_col) - F.col(n_col).cast("double"))
                <= 0.25 * F.col(bound_vs).cast("double")
            ).alias("within_bound"),
        )

    return one.select(
        F.explode(
            F.array(
                _row("set_a", "n_a", "est_a", "n_a"),
                _row("set_b", "n_b", "est_b", "n_b"),
                _row("union", "n_union", "est_u", "n_union"),
                _row("intersection", "n_int", "est_i", "n_union"),
            )
        ).alias("r")
    ).select("r.*")


# --------------------------------------------------------------------------- #
# recsys_als_step — one exact ALS half-step (matrix factorization)             #
# --------------------------------------------------------------------------- #
_ALS_SCALE = 1000  # item factors are fixed-point ints in [0, 1000)
_ALS_LAMBDA = 100000  # ridge term in factor^2 units (0.1 * _ALS_SCALE^2)


@register(
    "recsys_als_step",
    oracle=f"""
    WITH r AS (
        SELECT user_id, event_type,
               CAST(SUM(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
                   // CAST(COUNT(*) AS BIGINT) AS r_cents
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id, event_type
    ),
    q AS (
        SELECT event_type,
               CAST('0x' || SUBSTR(MD5('alsq1:' || event_type), 1, 15) AS BIGINT)
                   % {_ALS_SCALE} AS q1,
               CAST('0x' || SUBSTR(MD5('alsq2:' || event_type), 1, 15) AS BIGINT)
                   % {_ALS_SCALE} AS q2
        FROM (SELECT DISTINCT event_type FROM r)
    ),
    sums AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(q1 * q1) AS BIGINT) + {_ALS_LAMBDA} AS m11,
               CAST(SUM(q1 * q2) AS BIGINT) AS m12,
               CAST(SUM(q2 * q2) AS BIGINT) + {_ALS_LAMBDA} AS m22,
               CAST(SUM(r_cents * q1) AS BIGINT) AS b1,
               CAST(SUM(r_cents * q2) AS BIGINT) AS b2
        FROM r JOIN q USING (event_type)
        GROUP BY user_id
    )
    SELECT user_id, n_items,
           CAST(m22 * b1 - m12 * b2 AS DOUBLE) / CAST(m11 * m22 - m12 * m12 AS DOUBLE)
               AS p1,
           CAST(m11 * b2 - m12 * b1 AS DOUBLE) / CAST(m11 * m22 - m12 * m12 AS DOUBLE)
               AS p2
    FROM sums
    """,
)
def recsys_als_step(spark, sf_dir):
    """One EXACT ALS half-step — matrix factorization's repeated unit,
    extending the iterative-ML family past ``embedding_kmeans_iteration``:
    given fixed rank-2 item factors (deterministic fixed-point ints derived
    from the portable md5 hash of the item id), solve every user's ridge
    regression  p_u = (Q_u' Q_u + lambda I)^-1 Q_u' r_u  in closed form.
    Ratings are integer cents (exact decimal-cast average per (user,
    item)), factors are integers in [0, 1000), so ALL the normal-equation
    sums are integer — commutative, order-free, overflow-checked at <=
    1.2e15 against the int64 range — and the ONLY float operation is the
    final division by det (one IEEE op, bit-identical in any engine; det
    >= lambda^2 > 0 by Cauchy-Schwarz, so no /0 branch is needed).

    Scale: full ALS alternates this step between sides; each half-step is
    ONE groupBy per side — ratings shuffle once on user_id (the item-side
    step shuffles once on item id), item factors ride a broadcast dim.
    That one-exchange-per-iteration shape is the same shuffle budget as
    the k-means step and pagerank families.  The fixture's 5 items make
    the dim trivially broadcastable; at 10^8 items the join flips to a
    hash join on the same plan with nothing else changing."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)")
    r = (
        ev.groupBy("user_id", "event_type")
        .agg(F.sum(cents).alias("sum_cents"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "event_type",
            F.expr("sum_cents div n_events").alias("r_cents"),
        )
    )
    r = snapshot(r)  # the item dim and the per-user solve both read it
    q = r.select("event_type").distinct().select(
        "event_type",
        F.pmod(
            hash60(F.concat(F.lit("alsq1:"), F.col("event_type"))), F.lit(_ALS_SCALE)
        ).alias("q1"),
        F.pmod(
            hash60(F.concat(F.lit("alsq2:"), F.col("event_type"))), F.lit(_ALS_SCALE)
        ).alias("q2"),
    )
    sums = (
        r.join(F.broadcast(q), "event_type")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            (F.sum(F.col("q1") * F.col("q1")) + _ALS_LAMBDA).cast("long").alias("m11"),
            F.sum(F.col("q1") * F.col("q2")).cast("long").alias("m12"),
            (F.sum(F.col("q2") * F.col("q2")) + _ALS_LAMBDA).cast("long").alias("m22"),
            F.sum(F.col("r_cents") * F.col("q1")).cast("long").alias("b1"),
            F.sum(F.col("r_cents") * F.col("q2")).cast("long").alias("b2"),
        )
    )
    det = (F.col("m11") * F.col("m22") - F.col("m12") * F.col("m12")).cast("double")
    return sums.select(
        "user_id",
        "n_items",
        ((F.col("m22") * F.col("b1") - F.col("m12") * F.col("b2")).cast("double") / det).alias("p1"),
        ((F.col("m11") * F.col("b2") - F.col("m12") * F.col("b1")).cast("double") / det).alias("p2"),
    )


# --------------------------------------------------------------------------- #
# dq_chisquare_drift — distribution-drift monitor between order cohorts        #
# --------------------------------------------------------------------------- #
_CHI_BUCKET = 50000  # o_totalprice bucket width (histogram_price_buckets')


@register(
    "dq_chisquare_drift",
    oracle=f"""
    WITH b AS (
        SELECT CAST(FLOOR(o_totalprice / {_CHI_BUCKET}) AS BIGINT) AS bucket,
               CASE WHEN EXTRACT(year FROM o_orderdate) <= 1997 THEN 1 ELSE 0 END AS is_ref
        FROM orders
    ),
    per AS (
        SELECT bucket,
               CAST(SUM(is_ref) AS BIGINT) AS n_ref,
               CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
        FROM b GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(n_ref) AS BIGINT) AS tot_ref,
               CAST(SUM(n_cur) AS BIGINT) AS tot_cur
        FROM per
    )
    SELECT bucket, n_ref, n_cur,
           CASE WHEN n_ref > 0 THEN
               (CAST(n_cur * tot_ref - tot_cur * n_ref AS DOUBLE)
                * CAST(n_cur * tot_ref - tot_cur * n_ref AS DOUBLE))
               / CAST(tot_cur * n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE)
           END AS chi2_term,
           CASE WHEN n_ref > 0 THEN
               (CAST(n_cur * tot_ref - tot_cur * n_ref AS DOUBLE)
                * CAST(n_cur * tot_ref - tot_cur * n_ref AS DOUBLE))
               / CAST(tot_cur * n_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE) > 9.0
           ELSE n_cur > 0 END AS drift_flag
    FROM per, tot
    """,
)
def dq_chisquare_drift(spark, sf_dir):
    """Distribution-drift DQ monitor: Pearson chi-square contributions of the
    current order cohort (orderdate > 1997) against the reference cohort
    (<= 1997) over 50k-wide price buckets — the feature-drift gate a
    training pipeline runs between snapshot refreshes.
    ``snapshot_column_drift_profile`` diffs per-column SCALAR stats; this
    tests the SHAPE of a distribution (a mean-preserving variance shift is
    invisible there, loud here).

    Per-BUCKET rows deliberately: emitting each bucket's chi-square term
    (one exact-integer difference n_cur*tot_ref - tot_cur*n_ref, squared
    and divided in double) avoids any cross-bucket float summation order —
    the caller's total is one further exact aggregation, and the oracle
    hash-matches every term bit-for-bit.  The integer products stay under
    2^53 through sf0.1 (documented headroom; a decimal path takes over
    beyond).  A bucket unseen in the reference cohort cannot have an
    expected count, so it flags directly (novel-mass detection).  Scale:
    one map-side bucket projection, ONE groupBy(bucket) carrying two
    conditional sums, then broadcast totals — the same single-exchange
    shape as ``histogram_price_buckets``."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.floor(F.col("o_totalprice") / _CHI_BUCKET).cast("long").alias("bucket"),
        F.when(F.year("o_orderdate") <= 1997, 1).otherwise(0).alias("is_ref"),
    )
    per = b.groupBy("bucket").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
    )
    tot = per.agg(
        F.sum("n_ref").cast("long").alias("tot_ref"),
        F.sum("n_cur").cast("long").alias("tot_cur"),
    )
    # loud headroom guard (the winnowing packing doctrine): the difference
    # must cast to double EXACTLY for the squared term to be engine-identical,
    # so |n_cur*tot_ref - tot_cur*n_ref| must stay below 2^53 — true through
    # sf0.1 with ~100x margin; past it, raise instead of silently rounding
    d_long = F.col("n_cur") * F.col("tot_ref") - F.col("tot_cur") * F.col("n_ref")
    d = F.when(
        F.abs(d_long) < F.lit(1 << 53), d_long.cast("double")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("dq_chisquare_drift: |n_cur*tot_ref - tot_cur*n_ref| >= 2^53 "
                      "(exact-double headroom exceeded; use the decimal path): "),
                d_long.cast("string"),
            )
        )
    )
    term = d * d / (F.col("tot_cur") * F.col("n_ref")).cast("double") / F.col(
        "tot_ref"
    ).cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_ref",
        "n_cur",
        F.when(F.col("n_ref") > 0, term).alias("chi2_term"),
        F.when(F.col("n_ref") > 0, term > 9.0)
        .otherwise(F.col("n_cur") > 0)
        .alias("drift_flag"),
    )


# --------------------------------------------------------------------------- #
# labels_majority_vote — annotation aggregation (RLHF/label-farm pattern)      #
# --------------------------------------------------------------------------- #
_VOTE_ITEMS = 200  # items: event_id % 200


def _ballots(ev):
    """One vote per (item, annotator): the annotator's EARLIEST event on the
    item (re-judgments don't stuff the ballot).  Shared by
    ``labels_majority_vote`` and ``labels_annotator_agreement`` so the
    ballot discipline cannot drift between the two."""
    votes0 = ev.select(
        (F.col("event_id") % _VOTE_ITEMS).alias("item_id"),
        F.col("user_id").alias("annotator"),
        F.col("event_type").alias("label"),
        "ts",
        "event_id",
    )
    w_first = W.partitionBy("item_id", "annotator").orderBy("ts", "event_id")
    return (
        votes0.withColumn("vrn", F.row_number().over(w_first))
        .filter(F.col("vrn") == 1)
        .select("item_id", "annotator", "label")
    )


def _elect(votes):
    """Per-(item, label) tallies with deterministic election rank
    (count-desc, label-asc) and the item's total ballot count."""
    counts = votes.groupBy("item_id", "label").agg(F.count(F.lit(1)).alias("c"))
    w_rank = W.partitionBy("item_id").orderBy(F.col("c").desc(), "label")
    w_all = W.partitionBy("item_id")
    return counts.select(
        "item_id",
        "label",
        "c",
        F.row_number().over(w_rank).alias("lrn"),
        F.sum("c").over(w_all).cast("long").alias("n_votes"),
    )


@register(
    "labels_majority_vote",
    oracle=f"""
    WITH votes0 AS (
        SELECT event_id % {_VOTE_ITEMS} AS item_id,
               user_id AS annotator,
               event_type AS label,
               ROW_NUMBER() OVER (PARTITION BY event_id % {_VOTE_ITEMS}, user_id
                                  ORDER BY ts, event_id) AS vrn
        FROM events
    ),
    votes AS (SELECT item_id, annotator, label FROM votes0 WHERE vrn = 1),
    counts AS (
        SELECT item_id, label, CAST(COUNT(*) AS BIGINT) AS c
        FROM votes GROUP BY item_id, label
    ),
    ranked AS (
        SELECT item_id, label, c,
               ROW_NUMBER() OVER (PARTITION BY item_id ORDER BY c DESC, label) AS lrn,
               CAST(SUM(c) OVER (PARTITION BY item_id) AS BIGINT) AS n_votes
        FROM counts
    )
    SELECT item_id, label AS majority_label, c AS majority_count, n_votes,
           CAST(c AS DOUBLE) / CAST(n_votes AS DOUBLE) AS agreement,
           c * 2 > n_votes AS strict_majority
    FROM ranked WHERE lrn = 1
    """,
)
def labels_majority_vote(spark, sf_dir):
    """Annotation aggregation — the label-farm / RLHF-rater reduction: each
    (item, annotator) pair contributes ONE vote (their earliest event;
    re-judgments don't stuff the ballot), items elect a majority label
    (count-desc, label-asc tie-break so the result is total), and the
    per-item agreement ratio plus a strict-majority flag feed the
    downstream keep/re-adjudicate routing.  Items here are event_id mod
    200, annotators are users, labels are event types — the standing-in
    fixture for a (prompt, rater, choice) table.

    Scale: vote dedup is a (item, annotator)-keyed first-writer window
    (bounded by votes-per-pair, typically ~1); tallying is ONE
    (item, label) groupBy with map-side partials; the election is a window
    over each item's <=|label-alphabet| tally rows.  No text, no floats
    until the final agreement division."""
    ev = load_table(spark, sf_dir, "events")
    votes = _ballots(ev)
    ranked = _elect(votes)
    return ranked.filter(F.col("lrn") == 1).select(
        "item_id",
        F.col("label").alias("majority_label"),
        F.col("c").alias("majority_count"),
        "n_votes",
        (F.col("c").cast("double") / F.col("n_votes").cast("double")).alias("agreement"),
        (F.col("c") * 2 > F.col("n_votes")).alias("strict_majority"),
    )


@register(
    "labels_annotator_agreement",
    oracle=f"""
    WITH votes0 AS (
        SELECT event_id % {_VOTE_ITEMS} AS item_id,
               user_id AS annotator,
               event_type AS label,
               ROW_NUMBER() OVER (PARTITION BY event_id % {_VOTE_ITEMS}, user_id
                                  ORDER BY ts, event_id) AS vrn
        FROM events
    ),
    votes AS (SELECT item_id, annotator, label FROM votes0 WHERE vrn = 1),
    counts AS (
        SELECT item_id, label, CAST(COUNT(*) AS BIGINT) AS c
        FROM votes GROUP BY item_id, label
    ),
    maj AS (
        SELECT item_id, label AS majority_label FROM (
            SELECT item_id, label, ROW_NUMBER() OVER (
                PARTITION BY item_id ORDER BY c DESC, label) AS lrn
            FROM counts
        ) WHERE lrn = 1
    )
    SELECT v.annotator,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(*) FILTER (WHERE v.label = m.majority_label) AS BIGINT)
               AS n_agree,
           CAST(COUNT(*) FILTER (WHERE v.label = m.majority_label) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS agreement_rate,
           COUNT(*) FILTER (WHERE v.label = m.majority_label) * 2 < COUNT(*)
               AS below_coin_flip
    FROM votes v JOIN maj m USING (item_id)
    GROUP BY v.annotator
    """,
)
def labels_annotator_agreement(spark, sf_dir):
    """Per-annotator quality — the rater side of the ``labels_majority_vote``
    election (the Dawid-Skene first iteration): each annotator's agreement
    rate with the elected per-item majority, the routing signal a labeling
    pipeline uses to down-weight or retrain raters (``below_coin_flip``
    flags raters who disagree with consensus on most of their items).
    Shares ``_ballots``/``_elect`` with the election query, so the ballot
    discipline (one vote per (item, annotator), earliest event) and the
    deterministic tie-break are identical by construction.

    Scale: the election side is item-keyed aggregates; the agreement join
    is vote-rows x one majority row per item (hash equi-join on item_id),
    then ONE annotator-keyed groupBy — no new shuffle class beyond the
    election itself."""
    ev = load_table(spark, sf_dir, "events")
    votes = _ballots(ev)
    votes = snapshot(votes)  # the election and the agreement join both read it
    maj = (
        _elect(votes)
        .filter(F.col("lrn") == 1)
        .select("item_id", F.col("label").alias("majority_label"))
    )
    agree = (F.col("label") == F.col("majority_label")).cast("int")
    return (
        votes.join(maj, "item_id")
        .groupBy("annotator")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(agree).cast("long").alias("n_agree"),
        )
        .select(
            "annotator",
            "n_items",
            "n_agree",
            (F.col("n_agree").cast("double") / F.col("n_items").cast("double")).alias(
                "agreement_rate"
            ),
            (F.col("n_agree") * 2 < F.col("n_items")).alias("below_coin_flip"),
        )
    )


# --------------------------------------------------------------------------- #
# labels_dawid_skene_em — one full confusion-matrix EM iteration               #
# --------------------------------------------------------------------------- #
_DS_SCALE = 10**6  # confusion rates carried as parts-per-million integers


def _ds_em(votes):
    """One full Dawid-Skene EM iteration over a (item_id, annotator, label)
    ballot table, in INTEGER arithmetic (Dawid & Skene 1979, the additive
    linearization):

      init    — majority election (``_elect``: count-desc, label-asc);
      M-step  — per-annotator CONFUSION MATRIX against the consensus proxy,
                with Laplace add-one smoothing over the global label
                alphabet (the standard DS regularizer — without it a truth
                class seen once yields a saturated 1.0 row that overpowers
                every informative one):
                rate_ppm[a, t -> g] = (n_tg + 1) * 1e6 div (n_t + |L|);
      E-step  — re-weighted election: candidate t's score on an item is the
                SUM over its ballots (a voted g) of rate_ppm[a, t -> g]
                (additive evidence, so the score is an exact BIGINT — the
                multiplicative likelihood needs log-floats, which no hash
                oracle can check); argmax with the same (score desc, label
                asc) total tie-break.

    Unanimous ballots are a FIXED POINT: the unanimous label is each item's
    only candidate (candidates = labels with >= 1 ballot), so the
    re-weighted election cannot move — property-tested in
    tests/test_round14.py, along with the load-bearing DS property that a
    SYSTEMATIC flipper's vote becomes evidence FOR the label it flips from.
    """
    votes = snapshot(votes)  # election, M-step and E-step all read it
    maj = snapshot(
        _elect(votes)
        .filter(F.col("lrn") == 1)
        .select("item_id", F.col("label").alias("majority_label"), "n_votes")
    )
    conf_n = (
        votes.join(maj.select("item_id", "majority_label"), "item_id")
        .groupBy(
            "annotator",
            F.col("majority_label").alias("t"),
            F.col("label").alias("g"),
        )
        .agg(F.count(F.lit(1)).alias("n_tg"))
    )
    conf_d = conf_n.groupBy("annotator", "t").agg(F.sum("n_tg").alias("n_t"))
    alphabet = votes.agg(F.countDistinct("label").alias("n_labels"))
    conf = (
        conf_n.join(conf_d, ["annotator", "t"])
        .crossJoin(F.broadcast(alphabet))
        .select(
            "annotator",
            "t",
            F.col("g").alias("label"),
            F.expr(f"(n_tg + 1) * {_DS_SCALE} div (n_t + n_labels)").alias("rate_ppm"),
        )
    )
    cand = votes.select("item_id", F.col("label").alias("t")).distinct()
    scores = (
        cand.join(votes, "item_id")
        .join(F.broadcast(conf), ["annotator", "t", "label"], "left")
        .groupBy("item_id", "t")
        .agg(F.sum(F.coalesce("rate_ppm", F.lit(0))).cast("long").alias("score_ppm"))
    )
    w_ds = W.partitionBy("item_id").orderBy(F.col("score_ppm").desc(), "t")
    elected = (
        scores.withColumn("rn", F.row_number().over(w_ds))
        .filter(F.col("rn") == 1)
        .select("item_id", F.col("t").alias("ds_label"), "score_ppm")
    )
    return elected.join(maj, "item_id").select(
        "item_id",
        "ds_label",
        F.col("score_ppm").alias("ds_score_ppm"),
        "majority_label",
        "n_votes",
        (F.col("ds_label") != F.col("majority_label")).alias("relabeled"),
    )


@register(
    "labels_dawid_skene_em",
    oracle=f"""
    WITH votes0 AS (
        SELECT event_id % {_VOTE_ITEMS} AS item_id,
               user_id AS annotator,
               event_type AS label,
               ROW_NUMBER() OVER (PARTITION BY event_id % {_VOTE_ITEMS}, user_id
                                  ORDER BY ts, event_id) AS vrn
        FROM events
    ),
    votes AS (SELECT item_id, annotator, label FROM votes0 WHERE vrn = 1),
    counts AS (
        SELECT item_id, label, CAST(COUNT(*) AS BIGINT) AS c
        FROM votes GROUP BY item_id, label
    ),
    maj AS (
        SELECT item_id, label AS majority_label, n_votes FROM (
            SELECT item_id, label, c,
                   ROW_NUMBER() OVER (PARTITION BY item_id
                                      ORDER BY c DESC, label) AS lrn,
                   CAST(SUM(c) OVER (PARTITION BY item_id) AS BIGINT) AS n_votes
            FROM counts
        ) WHERE lrn = 1
    ),
    conf_n AS (
        SELECT v.annotator, m.majority_label AS t, v.label AS g,
               CAST(COUNT(*) AS BIGINT) AS n_tg
        FROM votes v JOIN maj m USING (item_id)
        GROUP BY v.annotator, m.majority_label, v.label
    ),
    conf_d AS (
        SELECT annotator, t, CAST(SUM(n_tg) AS BIGINT) AS n_t
        FROM conf_n GROUP BY annotator, t
    ),
    alphabet AS (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels FROM votes),
    conf AS (
        SELECT n.annotator, n.t, n.g,
               ((n.n_tg + 1) * {_DS_SCALE})
                   // (d.n_t + (SELECT n_labels FROM alphabet)) AS rate_ppm
        FROM conf_n n
        JOIN conf_d d ON d.annotator = n.annotator AND d.t = n.t
    ),
    cand AS (SELECT DISTINCT item_id, label AS t FROM votes),
    scores AS (
        SELECT c.item_id, c.t,
               CAST(SUM(COALESCE(cf.rate_ppm, 0)) AS BIGINT) AS score_ppm
        FROM cand c
        JOIN votes v ON v.item_id = c.item_id
        LEFT JOIN conf cf ON cf.annotator = v.annotator
                         AND cf.t = c.t AND cf.g = v.label
        GROUP BY c.item_id, c.t
    ),
    elect2 AS (
        SELECT item_id, t AS ds_label, score_ppm,
               ROW_NUMBER() OVER (PARTITION BY item_id
                                  ORDER BY score_ppm DESC, t) AS rn
        FROM scores
    )
    SELECT e.item_id, e.ds_label, e.score_ppm AS ds_score_ppm,
           m.majority_label, m.n_votes,
           e.ds_label <> m.majority_label AS relabeled
    FROM elect2 e JOIN maj m USING (item_id)
    WHERE e.rn = 1
    """,
)
def labels_dawid_skene_em(spark, sf_dir):
    """Full Dawid-Skene EM step over the annotation fixture — closes the
    family ``labels_majority_vote`` (the init) and
    ``labels_annotator_agreement`` (the E-step's diagonal slice) opened:
    estimate each annotator's FULL confusion matrix against the current
    consensus (M-step), then re-elect every item with confusion-weighted
    ballots (E-step) and report which items the model relabels away from
    raw majority.  Integer ppm rates and additive BIGINT scores keep the
    whole iteration bit-reproducible (the ``recsys_als_step`` fixed-point
    discipline), so a statistics-literature EM algorithm hash-matches an
    independent SQL oracle.  Shares ``_ballots``/``_elect`` with the other
    two, so ballot and tie-break discipline cannot drift.

    Scale: the M-step is (annotator, t, g)-keyed aggregation — output is
    annotators x alphabet^2 rows, BROADCAST back for the E-step; the E-step
    joins each item's ballots to its <= alphabet candidate labels (bounded
    fan-out), then ONE (item, label) groupBy and an item-keyed argmax
    window over <= alphabet rows.  No stage shuffles more than
    ballots x alphabet rows; further EM iterations repeat the same two
    shuffles with the relabeled consensus."""
    ev = load_table(spark, sf_dir, "events")
    return _ds_em(_ballots(ev))


# --------------------------------------------------------------------------- #
# dq_ks_drift — exact Kolmogorov-Smirnov two-sample drift statistic            #
# --------------------------------------------------------------------------- #


@register(
    "dq_ks_drift",
    oracle="""
    WITH c AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
               CASE WHEN EXTRACT(year FROM o_orderdate) <= 1997 THEN 1 ELSE 0 END AS is_ref
        FROM orders
    ),
    hist AS (
        SELECT cents,
               CAST(SUM(is_ref) AS BIGINT) AS ca,
               CAST(SUM(1 - is_ref) AS BIGINT) AS cb
        FROM c GROUP BY cents
    ),
    cum AS (
        SELECT cents,
               CAST(SUM(ca) OVER (ORDER BY cents) AS BIGINT) AS cum_a,
               CAST(SUM(cb) OVER (ORDER BY cents) AS BIGINT) AS cum_b
        FROM hist
    ),
    tot AS (
        SELECT MAX(cum_a) AS n_a, MAX(cum_b) AS n_b FROM cum
    ),
    d AS (
        SELECT cents, ABS(cum_a * n_b - cum_b * n_a) AS dnum
        FROM cum, tot
    ),
    best AS (
        SELECT MAX(dnum) AS ks_num FROM d
    )
    SELECT t.n_a, t.n_b, b.ks_num,
           (SELECT MIN(cents) FROM d WHERE dnum = b.ks_num) AS ks_at_cents,
           CAST(b.ks_num AS DOUBLE) / CAST(t.n_a * t.n_b AS DOUBLE) AS ks_stat,
           CAST(b.ks_num AS DOUBLE) / CAST(t.n_a * t.n_b AS DOUBLE)
               > 1.36 * SQRT(CAST(t.n_a + t.n_b AS DOUBLE) / CAST(t.n_a * t.n_b AS DOUBLE))
               AS drift_flag
    FROM tot t, best b
    """,
)
def dq_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift statistic between the order
    cohorts (orderdate <= 1997 vs after) over price cents — the UNBINNED
    companion of ``dq_chisquare_drift``: KS is bucket-free, so a shift that
    straddles a chi-square bucket edge (invisible there) moves the EDF gap
    here.  Everything up to the final statistic is integer-exact:
    ``|cum_a*n_b - cum_b*n_a|`` is the EDF gap scaled by n_a*n_b (<= 2^35
    at sf0.1 — documented headroom), its max and argmin-value are integer
    aggregates, and the only float ops are one division and the
    alpha=0.05 threshold (1.36*sqrt((n_a+n_b)/(n_a*n_b)) — sqrt is
    IEEE-exactly-rounded, so the flag is engine-identical).

    Scale: ONE groupBy over the distinct-cents histogram (domain-bounded:
    cents < 2^24, never row-count-sized), one cumsum window over that
    histogram — the same bounded-structure exemption as the q-digest
    census; for an unbounded domain the sharded prefix-sum identity
    (``global_rank_via_sharding``) replaces the single window."""
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)").alias("cents"),
        F.when(F.year("o_orderdate") <= 1997, 1).otherwise(0).alias("is_ref"),
    )
    hist = c.groupBy("cents").agg(
        F.sum("is_ref").cast("long").alias("ca"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("cb"),
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select(
        "cents",
        F.sum("ca").over(w).cast("long").alias("cum_a"),
        F.sum("cb").over(w).cast("long").alias("cum_b"),
    )
    cum = snapshot(cum)  # totals, the max gap, and its arg-value all read it
    # loud headroom guard: the scaled EDF gaps multiply cohort sizes, so
    # cum*n must stay inside int64 — enforced as n_a, n_b < 2^31 (true by
    # ~5 orders at sf0.1); past it, raise instead of silently wrapping
    tot = cum.agg(
        F.max("cum_a").alias("n_a"), F.max("cum_b").alias("n_b")
    ).select(
        F.when(
            (F.col("n_a") < F.lit(1 << 31)) & (F.col("n_b") < F.lit(1 << 31)),
            F.col("n_a"),
        )
        .otherwise(
            F.raise_error(
                F.lit("dq_ks_drift: cohort size >= 2^31 — int64 headroom for "
                      "cum*n exceeded; shard the EDF product first")
            )
        )
        .alias("n_a"),
        "n_b",
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        "n_a",
        "n_b",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")).alias("dnum"),
    )
    d = snapshot(d)
    best = d.groupBy("n_a", "n_b").agg(F.max("dnum").alias("ks_num"))
    at = (
        d.join(F.broadcast(best.select("ks_num")), d["dnum"] == F.col("ks_num"))
        .agg(F.min("cents").alias("ks_at_cents"))
    )
    ks = F.col("ks_num").cast("double") / (F.col("n_a") * F.col("n_b")).cast("double")
    thresh = F.lit(1.36) * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return best.crossJoin(F.broadcast(at)).select(
        "n_a",
        "n_b",
        "ks_num",
        "ks_at_cents",
        ks.alias("ks_stat"),
        (ks > thresh).alias("drift_flag"),
    )


# --------------------------------------------------------------------------- #
# ml_pass_at_k — the unbiased pass@k estimator (Chen et al. 2021, HumanEval)   #
# --------------------------------------------------------------------------- #
_PAK_PROBLEMS = 100
_PAK_KS = (1, 5, 10)


def _pak_product(n_col: str, c_col: str, k: int) -> str:
    """SQL text of 1 - prod_{i=0}^{k-1} (n-c-i)/(n-i), the numerically-stable
    form of 1 - C(n-c,k)/C(n,k).  The product is written as a FIXED
    left-to-right chain of double multiplies of correctly-rounded double
    divisions, so Spark and DuckDB evaluate the identical expression tree
    and agree bit-for-bit (no factorials — C(1000,10) overflows anything;
    the term-ratio form never leaves [0,1])."""
    terms = [
        f"(CAST({n_col} - {c_col} - {i} AS DOUBLE) / CAST({n_col} - {i} AS DOUBLE))"
        for i in range(k)
    ]
    prod = terms[0]
    for t in terms[1:]:
        prod = f"({prod} * {t})"
    return f"CASE WHEN {n_col} >= {k} THEN 1.0 - {prod} END"


@register(
    "ml_pass_at_k",
    oracle=f"""
    WITH att AS (
        SELECT event_id % {_PAK_PROBLEMS} AS problem_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ok
        FROM events
    ),
    per AS (
        SELECT problem_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ok) AS BIGINT) AS c
        FROM att GROUP BY problem_id
    )
    SELECT problem_id, n, c,
           {_pak_product('n', 'c', 1)} AS pass_at_1,
           {_pak_product('n', 'c', 5)} AS pass_at_5,
           {_pak_product('n', 'c', 10)} AS pass_at_10
    FROM per
    """,
)
def ml_pass_at_k(spark, sf_dir):
    """The unbiased pass@k estimator from the HumanEval paper (Chen et al.
    2021, arXiv:2107.03374 §2.1): given n sampled attempts per problem with
    c successes, pass@k = 1 - C(n-c,k)/C(n,k), computed in the
    numerically-stable term-ratio form 1 - prod (n-c-i)/(n-i) — the eval
    reduction every code-model benchmark runs over its generation logs.
    Problems are event_id mod {_PAK_PROBLEMS}, an attempt succeeds when the
    event is a purchase.  The k-term product is an UNROLLED fixed-order
    chain of correctly-rounded double ops, identical expression tree on
    both engines, so even the float columns hash-match exactly; n < k
    yields NULL (the estimator's own undefined region), never a clamp.

    Scale: ONE problem-keyed count/sum groupBy with map-side partials;
    the per-problem arithmetic is a codegen'd projection.  At 100 TB of
    generation logs this is a single near-uniform shuffle on problem_id —
    the only state is (n, c) per problem."""
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.select(
            (F.col("event_id") % _PAK_PROBLEMS).alias("problem_id"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ok"),
        )
        .groupBy("problem_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ok").cast("long").alias("c"),
        )
    )
    return per.select(
        "problem_id",
        "n",
        "c",
        F.expr(_pak_product("n", "c", 1)).alias("pass_at_1"),
        F.expr(_pak_product("n", "c", 5)).alias("pass_at_5"),
        F.expr(_pak_product("n", "c", 10)).alias("pass_at_10"),
    )


# --------------------------------------------------------------------------- #
# labels_bradley_terry_mm — pairwise-preference strength (2 MM iterations)     #
# --------------------------------------------------------------------------- #
_BT_ITEMS = 20
_BT_SCALE = 10**6
_BT_ITERS = 2


def _bt_match_ctes() -> str:
    """Planted pairwise-preference fixture: per user, consecutive events are
    a match between props.k%20 items; the higher event value wins (ties to
    the smaller item id).  Same-item pairs are no-ops and dropped."""
    return f"""ev AS (
        SELECT user_id, ts, event_id,
               CAST(props->>'k' AS BIGINT) % {_BT_ITEMS} AS item,
               CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
        FROM events
    ),
    seqd AS (
        SELECT user_id, item, cents,
               LAG(item) OVER w AS p_item,
               LAG(cents) OVER w AS p_cents
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    matches AS (
        SELECT LEAST(item, p_item) AS lo, GREATEST(item, p_item) AS hi,
               CASE WHEN cents > p_cents THEN item
                    WHEN cents < p_cents THEN p_item
                    ELSE LEAST(item, p_item) END AS winner
        FROM seqd WHERE p_item IS NOT NULL AND p_item <> item
    ),
    pairs AS (
        SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS n_ij,
               CAST(COUNT(*) FILTER (WHERE winner = lo) AS BIGINT) AS lo_wins
        FROM matches GROUP BY lo, hi
    ),
    items AS (
        SELECT lo AS item FROM pairs UNION SELECT hi FROM pairs
    ),
    wins AS (
        SELECT i.item,
               CAST(COALESCE(SUM(CASE WHEN p.lo = i.item THEN p.lo_wins
                                      ELSE p.n_ij - p.lo_wins END), 0) AS BIGINT)
                   AS w_i,
               CAST(COALESCE(SUM(p.n_ij), 0) AS BIGINT) AS m_i
        FROM items i
        LEFT JOIN pairs p ON p.lo = i.item OR p.hi = i.item
        GROUP BY i.item
    )"""


def _bt_iter_ctes(i: int, prev: str) -> str:
    """One MM update (Hunter 2004, eq. 1.1, integer fixed-point form):
    d_i = sum_j n_ij * SCALE^2 div (w_i + w_j); s_i' = W_i * SCALE^2 div d_i;
    then L1-renormalize to the |items| * SCALE grid."""
    s2 = _BT_SCALE * _BT_SCALE
    return f"""
    den{i} AS (
        SELECT it.item,
               CAST(SUM((p.n_ij * {s2})
                        // (a.s + b.s)) AS BIGINT) AS d_i
        FROM items it
        JOIN pairs p ON p.lo = it.item OR p.hi = it.item
        JOIN {prev} a ON a.item = p.lo
        JOIN {prev} b ON b.item = p.hi
        GROUP BY it.item
    ),
    raw{i} AS (
        SELECT w.item,
               CASE WHEN d.d_i > 0 THEN (w.w_i * {s2}) // d.d_i ELSE 0 END AS s
        FROM wins w JOIN den{i} d ON d.item = w.item
    ),
    tot{i} AS (SELECT CAST(SUM(s) AS BIGINT) AS t,
                      CAST(COUNT(*) AS BIGINT) AS n_items FROM raw{i}),
    bt{i} AS (
        SELECT item, (s * (SELECT n_items * {_BT_SCALE} FROM tot{i}))
                         // (SELECT t FROM tot{i}) AS s
        FROM raw{i}
    )"""


def _bt_oracle() -> str:
    parts = [f"WITH {_bt_match_ctes()},"]
    parts.append(f"""
    bt0 AS (SELECT item, CAST({_BT_SCALE} AS BIGINT) AS s FROM items)""")
    prev = "bt0"
    for i in range(1, _BT_ITERS + 1):
        parts.append("," + _bt_iter_ctes(i, prev))
        prev = f"bt{i}"
    parts.append(f"""
    SELECT w.item, w.m_i AS n_matches, w.w_i AS n_wins, b.s AS bt_strength,
           CAST(ROW_NUMBER() OVER (ORDER BY b.s DESC, w.item) AS BIGINT)
               AS strength_rank
    FROM wins w JOIN {prev} b ON b.item = w.item""")
    return "".join(parts)


@register("labels_bradley_terry_mm", oracle=_bt_oracle())
def labels_bradley_terry_mm(spark, sf_dir):
    """Bradley-Terry preference-strength fitting by minorization-maximization
    (Hunter 2004, public literature) — the model behind Chatbot-Arena-style
    pairwise preference leaderboards and RLHF reward shaping: items play
    matches (consecutive events per user; higher value wins, ties to the
    smaller id), and {_BT_ITERS} MM updates from the uniform start estimate
    each item's strength: s_i' = W_i / sum_j n_ij/(s_i + s_j), then
    L1-renormalize onto the |items| x 1e6 grid.  All arithmetic is integer
    fixed-point (SCALE^2 numerators, floor division, the
    ``recsys_als_step`` discipline), so a statistics-literature iterative
    fit hash-matches an unrolled SQL recurrence — note iteration 1 from
    the uniform start has CONSTANT denominators (2 x SCALE), so it reduces
    to win-rate scaling; iteration 2 is where opponent strength starts
    mattering, which is why the fixture runs two.

    Scale: the match derivation is one user-keyed lag window + one
    (lo, hi) pair groupBy; each MM round then joins only the PAIR table
    (items^2/2 rows at most — leaderboard-sized, broadcast at 100 TB)
    against the current strengths and renormalizes via a 1-row broadcast.
    Headroom: n_ij * SCALE^2 must stay under 2^63 — n_ij < 9.2e6 matches
    per pair at SCALE=1e6; beyond that, shrink SCALE (documented, loud
    under ANSI mode)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.get_json_object("props", "$.k").cast("long") % _BT_ITEMS).alias("item"),
        F.expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = base.select(
        "item",
        "cents",
        F.lag("item").over(w).alias("p_item"),
        F.lag("cents").over(w).alias("p_cents"),
    ).filter(F.col("p_item").isNotNull() & (F.col("p_item") != F.col("item")))
    matches = seqd.select(
        F.least("item", "p_item").alias("lo"),
        F.greatest("item", "p_item").alias("hi"),
        F.when(F.col("cents") > F.col("p_cents"), F.col("item"))
        .when(F.col("cents") < F.col("p_cents"), F.col("p_item"))
        .otherwise(F.least("item", "p_item"))
        .alias("winner"),
    )
    pairs = snapshot(
        matches.groupBy("lo", "hi").agg(
            F.count(F.lit(1)).cast("long").alias("n_ij"),
            F.sum(F.when(F.col("winner") == F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("lo_wins"),
        )
    )
    items = pairs.select(F.col("lo").alias("item")).union(pairs.select("hi")).distinct()
    # per-item totals: wins and match counts over the pair table
    side = pairs.select(
        F.col("lo").alias("item"), F.col("lo_wins").alias("w"), "n_ij"
    ).union(
        pairs.select(
            F.col("hi").alias("item"), (F.col("n_ij") - F.col("lo_wins")).alias("w"), "n_ij"
        )
    )
    wins = snapshot(
        items.join(side, "item", "left")
        .groupBy("item")
        .agg(
            F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("w_i"),
            F.coalesce(F.sum("n_ij"), F.lit(0)).cast("long").alias("m_i"),
        )
    )
    s2 = _BT_SCALE * _BT_SCALE
    bt = items.select("item", F.lit(_BT_SCALE).cast("long").alias("s"))
    for _ in range(_BT_ITERS):
        both = (
            pairs.join(bt.withColumnRenamed("item", "lo").withColumnRenamed("s", "s_lo"), "lo")
            .join(bt.withColumnRenamed("item", "hi").withColumnRenamed("s", "s_hi"), "hi")
        )
        den = (
            both.select(F.col("lo").alias("item"), F.expr(f"n_ij * {s2} div (s_lo + s_hi)").alias("t"))
            .union(
                both.select(F.col("hi").alias("item"), F.expr(f"n_ij * {s2} div (s_lo + s_hi)").alias("t"))
            )
            .groupBy("item")
            .agg(F.sum("t").cast("long").alias("d_i"))
        )
        raw = wins.join(den, "item").select(
            "item",
            F.when(F.col("d_i") > 0, F.expr(f"w_i * {s2} div d_i"))
            .otherwise(F.lit(0))
            .alias("s"),
        )
        tot = raw.agg(
            F.sum("s").cast("long").alias("t"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        bt = raw.crossJoin(F.broadcast(tot)).select(
            "item", F.expr(f"s * (n_items * {_BT_SCALE}) div t").alias("s")
        )
    w_rank = W.orderBy(F.col("bt_strength").desc(), "item")
    return (
        wins.join(bt, "item")
        .select(
            "item",
            F.col("m_i").alias("n_matches"),
            F.col("w_i").alias("n_wins"),
            F.col("s").alias("bt_strength"),
        )
        .withColumn("strength_rank", F.row_number().over(w_rank).cast("long"))
    )


# --------------------------------------------------------------------------- #
# sql_recursive_cte_ancestors — WITH RECURSIVE through the raw-SQL entry path  #
# --------------------------------------------------------------------------- #


@register(
    "sql_recursive_cte_ancestors",
    oracle="""
    WITH RECURSIVE anc AS (
        SELECT s_suppkey AS node, s_suppkey AS a, 0 AS d FROM supplier
        UNION ALL
        SELECT node, a // 2, d + 1 FROM anc WHERE a > 1
    )
    SELECT node AS s_suppkey,
           CAST(MAX(d) AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_chain,
           CAST(SUM(a) AS BIGINT) AS chain_keysum
    FROM anc GROUP BY node
    """,
)
def sql_recursive_cte_ancestors(spark, sf_dir):
    """Recursive CTE (``WITH RECURSIVE``, Spark 4's SQL:1999 recursion) over
    a planted binary hierarchy: parent(k) = k div 2, root 1 — per supplier,
    the depth, chain length and ancestor-key sum of its root path.  This is
    the RAW-SQL recursion entry path (``sql_q3_shipping_priority``'s
    doctrine applied to iteration): the engine's own fixpoint operator
    drives the loop, complementing the DataFrame-side iteration families
    (``operators/graph.py``, whose large-star/small-star and
    ``ancestor_closure`` cover the same semantics when the recursion depth
    or the need for per-round snapshots outgrows the SQL form).

    Scale: each recursion step is one shuffle bounded by the LIVE frontier
    (rows still above the root), which HALVES in key-space each round —
    depth is log2(max key), ~40 rounds at 10^12 keys; the final rollup is
    one node-keyed groupBy.  Integer arithmetic end-to-end, so the
    recursive fixpoint hash-matches DuckDB's recursive CTE exactly."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("rc_supplier")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
            SELECT s_suppkey AS node, s_suppkey AS a, 0 AS d FROM rc_supplier
            UNION ALL
            SELECT node, a DIV 2, d + 1 FROM anc WHERE a > 1
        )
        SELECT node AS s_suppkey,
               CAST(MAX(d) AS BIGINT) AS depth,
               CAST(COUNT(*) AS BIGINT) AS n_chain,
               CAST(SUM(a) AS BIGINT) AS chain_keysum
        FROM anc GROUP BY node
        """
    )


# --------------------------------------------------------------------------- #
# skew_salted_* — the salted operators under the hash oracle (round 14)        #
# --------------------------------------------------------------------------- #
# operators/joins.py's salted_join / salted_aggregate have carried
# equality TESTS since round 1; these rows put the same machinery under the
# driver's DuckDB hash so the skew family's correctness evidence is the
# same kind as every other family's.  The plants make the skew REAL:
# ~90% of rows share one key, the shape that melts a naive shuffle's
# hottest reducer at 100 TB.

_SKEW_SALTS = 16


@register(
    "skew_salted_aggregate_hot_key",
    oracle="""
    WITH k AS (
        SELECT CASE WHEN event_id % 10 < 9 THEN -1 ELSE user_id END AS hot_key,
               CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
        FROM events
    )
    SELECT hot_key,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           MIN(cents) AS min_cents,
           MAX(cents) AS max_cents
    FROM k GROUP BY hot_key
    """,
)
def skew_salted_aggregate_hot_key(spark, sf_dir):
    """Two-phase salted aggregation over a 90%-hot key (every event_id %
    10 < 9 collapses onto key -1), via ``operators.joins.salted_aggregate``
    with EXPLICIT per-output recombiners (sum/sum, count/sum, min/min,
    max/max): phase 1 splits the hot key's rows across {salts} salt
    reducers, phase 2 merges {salts} partials per key — the map-side
    half of the shuffle never sees one reducer carry 90% of the table.
    The oracle is the plain GROUP BY, so the salt machinery's equality
    contract is under the driver hash, not just the unit test.

    Scale: two exchanges — (key, salt) then key — each bounded by
    keys x salts rows after partials; the hot reducer's load drops by
    exactly n_salts.  Integer cents keep both engines identical."""
    from airflow_cms_inpatient_etl_spark.operators.joins import salted_aggregate

    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 10 < 9, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("hot_key"),
        F.expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)").alias("cents"),
    )
    out = salted_aggregate(
        ev,
        ["hot_key"],
        {
            "n": (F.count(F.lit(1)), lambda c: F.sum(c)),
            "sum_cents": (F.sum("cents"), lambda c: F.sum(c)),
            "min_cents": (F.min("cents"), lambda c: F.min(c)),
            "max_cents": (F.max("cents"), lambda c: F.max(c)),
        },
        n_salts=_SKEW_SALTS,
    )
    return out.select(
        "hot_key",
        F.col("n").cast("long").alias("n"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
        "min_cents",
        "max_cents",
    )


fill_doc(skew_salted_aggregate_hot_key, salts=_SKEW_SALTS)


@register(
    "skew_salted_join_hot_dim",
    oracle="""
    WITH f AS (
        SELECT CAST(CASE WHEN event_id % 5 > 0 THEN 0
                         ELSE user_id % 25 END AS BIGINT) AS n_nationkey,
               CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
        FROM events
    )
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(f.cents) AS BIGINT) AS sum_cents
    FROM f JOIN nation n ON n.n_nationkey = f.n_nationkey
    GROUP BY n.n_name
    """,
)
def skew_salted_join_hot_dim(spark, sf_dir):
    """Salted fact-dim equi-join under an 80%-hot foreign key (4 of 5
    events land on nation 0), via ``operators.joins.salted_join``: fact
    rows take a deterministic salt, the 25-row dimension replicates
    n_salts times, and the join key becomes (key, salt) — output equals
    the plain join EXACTLY (the oracle is that plain join), only the
    shuffle distribution changes.  In production the broadcast join makes
    this particular dim trivial; the salted form is the contract for the
    big-big case where neither side broadcasts and AQE's skew split needs
    a deterministic fallback — here it runs under the driver hash.

    Scale: the replicated-dim exchange carries dim x salts rows (400);
    the fact exchange spreads the hot key across salts reducers; the
    rollup reuses the join's partitioning."""
    from airflow_cms_inpatient_etl_spark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 5 > 0, F.lit(0))
        .otherwise(F.col("user_id") % 25)
        .cast("long")
        .alias("n_nationkey"),
        F.expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)").alias("cents"),
    )
    dim = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(ev, dim, "n_nationkey", n_salts=_SKEW_SALTS, how="inner")
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
