"""Generic curation stages shared by the standalone queries and the curation
compositions that string them together: a skew-safe per-group top-K, a
keep-first dedup window and the temperature-mixture normalizer.

Each stage is a DataFrame → DataFrame function, so a composition calls the
same plan fragment its standalone query runs instead of re-inlining it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOPK_SHARDS = 16  # phase-1 fan-out of the two-phase top-K windows


def topk_shard(order: list[str]) -> Column:
    """The phase-1 shard of ``top_k_per_group``: a hash of the order key."""
    return F.pmod(F.xxhash64(*order), F.lit(TOPK_SHARDS))


def top_k_per_group(df: DataFrame, group: str, order: list[str], k: int) -> DataFrame:
    """The rows ranked <= ``k`` within each ``group`` by the ascending
    ``order`` columns, with their int rank in ``rn``.

    Skew-safe two-phase shape: a single window partitioned by ``group`` sorts
    a hot group (one language holding half the corpus, one crawl domain with
    10⁹ pages) in ONE task.  Phase 1 splits every group into
    ``TOPK_SHARDS`` shards by a hash of the order key and ranks locally in
    parallel; phase 2 ranks only the <= shards·k survivors per group.  Exact
    by the sharding identity: a group's global top-k rows each rank <= k in
    their own shard, whatever the shard rule, so phase 1 never drops one.
    Rows with equal order keys share a shard, so even with ties the kept
    order-key multiset equals the naive single window's."""
    local = Window.partitionBy(group, "__shard").orderBy(*order)
    final = Window.partitionBy(group).orderBy(*order)
    return (
        df.withColumn("__shard", topk_shard(order))
        .withColumn("__lr", F.row_number().over(local))
        .filter(F.col("__lr") <= k)
        .drop("__lr", "__shard")
        .withColumn("rn", F.row_number().over(final))
        .filter(F.col("rn") <= k)
    )


def keep_first_by_key(df: DataFrame, key: str) -> DataFrame:
    """Exact dedup: the lowest-doc_id row of every ``key`` group.  One
    window exchange on the key — callers pass a fixed-width key (an md5 of
    the payload), so the document text never enters the shuffle."""
    w = Window.partitionBy(key).orderBy("doc_id")
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def temperature_mixture(
    df: DataFrame, key: str, wraw: Column, tokens: str, budget: int
) -> DataFrame:
    """Append ``weight`` = wraw / Σ wraw, ``sampling_rate`` = weight · budget
    / tokens and ``n_epochs`` = ceil(sampling_rate) to the one-row-per-``key``
    mixture table ``df``.

    The normalizer is an ORDERED fold of the raw weights in ``key`` order
    over the dimension-sized table, so with single correctly-rounded
    operations in ``wraw`` (sqrt, one division) every emitted double is
    engine-identical; the DuckDB oracles reduce LIST(wraw ORDER BY key)."""
    w = df.withColumn("__wraw", wraw)
    z = w.agg(
        F.expr(
            f"aggregate(transform(array_sort(collect_list(struct({key}, __wraw))), "
            "s -> s.__wraw), cast(0.0 as double), (acc, v) -> acc + v)"
        ).alias("__z")
    )
    weight = F.col("__wraw") / F.col("__z")
    rate = weight * budget / F.col(tokens)
    return w.crossJoin(F.broadcast(z)).select(
        *df.columns,
        weight.alias("weight"),
        rate.alias("sampling_rate"),
        F.ceil(rate).cast("long").alias("n_epochs"),
    )
