"""Streaming jobs over the events stream (SURVEY §2.B streaming row; Phase 4).

The batch queries in ``queries/timeseries.py`` define the semantics; these are
the incremental versions: ``readStream`` → watermark → windowed aggregation /
dedup → sink.  Tests drive them with the file source over the same parquet
fixtures and assert batch-equivalence (the only meaningful oracle for
streaming state — SURVEY §7 risk register).

Scale notes: event-time windows + watermarks keep state bounded (late data
beyond the watermark is dropped, state for closed windows is evicted); the
grouping key (window, event_type) shuffles once per micro-batch; RocksDB state
store would back this on a real cluster.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.session import scoped_conf
from airflow_cms_inpatient_etl_spark.sources.registry import normalize_events_ts


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet files under ``path``, with
    ``ts`` normalized by the batch read's rule
    (``sources.registry.normalize_events_ts``).

    The file source needs a declared schema, so one batch read probes the
    footer of the already-staged files (one Spark job) and the stream
    declares what it found, in either ``ts`` encoding."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    return normalize_events_ts(spark.readStream.schema(schema).parquet(path))


def stage_micro_batches(
    df: DataFrame, batch: str, order: Sequence, stage_dir: str
) -> DataFrame:
    """Stage ``df`` as a file-source feed, one micro-batch per value of its
    ``batch`` column, and return the stream that reads it back in ``order``.

    One Spark job writes every batch: ``batch`` is the partition column of a
    single ``coalesce(1)`` write, so each value's rows land in one parquet
    file and the column is in neither the files nor the stream's schema.
    Each file moves into ``stage_dir`` with an mtime that follows ``order``
    (the file source reads oldest first), and the stream reads one file per
    trigger under ``df``'s own schema, so no schema-inference job runs.  A
    value with no rows stages no file, and so no micro-batch; a row whose
    value is not in ``order`` fails the staging.  Values are named by their
    text, as in a partition directory (``batch=a``)."""
    spark = df.sparkSession
    tmp = os.path.join(stage_dir, "_batches")
    # dynamic-partition writes sort by the partition column first unless the
    # writer may keep one open file per partition; with a few batches the
    # concurrent writers are free and the sort is a pure extra pass (measured:
    # it cost back the saved scan on the 600k-row lineitem split)
    with scoped_conf(spark, {"spark.sql.maxConcurrentOutputFileWriters": str(len(order) + 1)}):
        df.coalesce(1).write.partitionBy(batch).parquet(tmp)
    for i, value in enumerate(order):
        files = glob.glob(os.path.join(tmp, f"{batch}={value}", "*.parquet"))
        if files:
            (part,) = files  # one task writes one file per value
            dest = os.path.join(stage_dir, f"batch-{i:05d}.parquet")
            os.rename(part, dest)
            os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))
    unstaged = glob.glob(os.path.join(tmp, "*", "*.parquet"))
    if unstaged:
        raise ValueError(f"rows whose {batch!r} is not in order {list(order)}: {unstaged}")
    shutil.rmtree(tmp)
    return (
        spark.readStream.schema(df.drop(batch).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts (append-mode safe)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming dedup on (user_id, event_type, ts) with bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )


def stream_stream_click_view_join(
    clicks_src: DataFrame,
    views_src: DataFrame,
    attribution: str = "6 hours",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: every view by the same user within
    ``attribution`` after each click — the streaming form of interval
    attribution.

    Both sides carry watermarks and the join condition bounds event time from
    BOTH directions, so Spark can size the join state buffer and evict rows
    once the other side's watermark passes them — without the time bound the
    state would grow forever (the stream-stream join's scale contract).  The
    equi-key (user_id) keeps the state store partitioned; the time range runs
    as a post-filter inside each key's buffer."""
    clicks = (
        clicks_src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        views_src.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"), F.col("value").alias("view_value"))
        .withWatermark("view_ts", watermark)
    )
    return views.join(
        clicks,
        F.expr(
            f"""click_user = user_id
            AND view_ts >= click_ts
            AND view_ts < click_ts + INTERVAL {attribution}"""
        ),
        "inner",
    ).select("click_id", "user_id", "click_ts", "view_ts", "view_value")


def stream_asof_candidates(
    purchases_src: DataFrame,
    clicks_src: DataFrame,
    tolerance: str = "6 hours",
    watermark: str = "10 minutes",
) -> DataFrame:
    """The streaming half of the as-of join: every click by the same user
    inside (purchase_ts - tolerance, purchase_ts] — a watermarked
    stream-stream inner join whose time condition bounds event time from
    BOTH directions, so join state is evictable (the streaming as-of's
    scale contract: an UNBOUNDED lookback would pin every click forever;
    a declared tolerance is what makes streaming as-of well-posed).

    Inner-join emission is eager and exact, so the drained candidate set is
    deterministically the batch interval join; the terminal as-of pick
    (MAX(click_ts) per purchase) runs over the drained, purchase-grained
    output — sink-sized, not stream-sized (the `streaming_percentiles_live`
    drain-then-reduce discipline)."""
    purchases = (
        purchases_src.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", watermark)
    )
    clicks = (
        clicks_src.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("click_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""click_user = user_id
            AND click_ts <= ts
            AND click_ts > ts - INTERVAL {tolerance}"""
        ),
        "inner",
    ).select("event_id", "user_id", "ts", "click_ts")


# The session conf every live drain runs under: 8 shuffle (= state-store)
# partitions.  Stateful operators run one state-store task per shuffle
# partition per stateful stage per micro-batch, so a vanilla session's 200
# partitions spend tens of seconds on task dispatch for a one-shot fixture
# drain.  The count is captured at query start (a long-lived production
# stream sizes it to its cluster once and the checkpoint pins it after), and
# every drained result here is invariant to it: window counts and sketch
# cells are associative adds, joins and per-key state are partitioned by
# key, and watermark late-drops depend on micro-batch boundaries only.
DRAIN_CONF = {"spark.sql.shuffle.partitions": "8"}


def run_stream_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming query to completion against the memory sink and
    return the drained rows (processAllAvailable drains the file source
    synchronously).

    The sink gets a private name, the stream runs under ``DRAIN_CONF``,
    and before returning the query is stopped and the sink's temp view is
    dropped: the session keeps no view, conf or active stream.  The returned
    DataFrame was resolved from the view while it existed and holds the sink
    itself, so it stays usable after the drop."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    try:
        with scoped_conf(spark, DRAIN_CONF):
            q = df.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def stream_upsert_to_parquet(
    updates: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_col: str,
):
    """Streaming CDC materialization: maintain a parquet table as the
    last-write-wins merge of a change stream — the incremental equivalent of
    the reference's drop-and-reload (``patient_claims_plus_postgres.py:63-68``)
    driven continuously.  foreachBatch is the documented pattern for sinks
    Spark has no native streaming writer for: each micro-batch is (1)
    compacted to one row per key with the keep-latest window (a dirty CDC
    feed can carry several updates for a key in one batch), then (2) type-1
    merged into the current table state (``operators/upsert.upsert``'s
    anti-join + union; the anti join takes the batch's raw keys, the same
    key set as the compacted rows, so only the window shuffles the batch).
    The merge is O(|target| + |batch|) per batch — at 100 TB the target
    would be bucketed on the key and the rewrite partition-scoped.

    Commit by stage and swap (``sources.files``' staged commit, shared with
    the CMS DAG's publish): the merge is written to ``<target_dir>.next``,
    renamed to ``<target_dir>.ready`` (approved), and swapped in by deleting
    the target and renaming ``.ready`` onto it, so the merge is computed
    once, inside its write, and nothing is pinned.  A crash while staging
    leaves the target intact (the replayed batch overwrites the ``.next``
    dir, which is never approved); a crash after the approval leaves a
    ``.ready`` dir, beside the target or in its place, which the next batch
    promotes first.  A replayed batch re-merges the same updates, and
    last-write-wins merging is idempotent, so the table converges to the
    same state (the crash windows: ``test_stream_upsert_promotes_committed_staging``,
    ``test_stream_upsert_promotes_approved_staging_beside_target`` and
    ``test_stream_upsert_overwrites_uncommitted_staging`` in
    tests/test_session_hygiene.py).  The sink owns the table, so only the
    first read of a stream run infers its schema; later reads declare the
    schema of the last write.

    Returns the started StreamingQuery (caller drains/stops it).
    """
    from pyspark.sql import Window as W

    from airflow_cms_inpatient_etl_spark.sources.files import (
        commit_staged,
        hadoop_fs,
        promote_staged,
        write_table_staged,
    )

    target_schema = None  # of the last write of this stream run

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal target_schema
        spark = batch_df.sparkSession
        promote_staged(spark, target_dir)  # finish an interrupted swap
        w = W.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        compacted = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # The first-batch case (no table yet) is detected EXPLICITLY via the
        # filesystem, never by catching read errors: a transient read failure
        # (corrupt footer, FS hiccup) must propagate so the batch fails and the
        # checkpoint replays it — swallowing it would silently replace the
        # accumulated table with just this micro-batch.
        fs, target_path = hadoop_fs(spark, target_dir)
        if fs.exists(target_path):
            reader = spark.read if target_schema is None else spark.read.schema(target_schema)
            target = reader.parquet(target_dir)
            merged = target.join(batch_df.select(*key_cols), key_cols, "left_anti").unionByName(
                compacted.select(*target.columns)
            )
        else:  # genuinely the first batch
            merged = compacted
        write_table_staged(merged, target_dir)
        commit_staged(spark, target_dir)
        target_schema = merged.schema

    return (
        updates.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_qdigest_leaves(rows: DataFrame, value_col: str, bits: int) -> DataFrame:
    """The q-digest's build stage as a running stream: maintain the LEAF
    histogram (value -> count) as the ONE streaming aggregation complete
    mode allows; the drain derives the full (level, node) tree census from
    the drained leaves with the batch ancestor explode
    (``operators.sketch.dyadic_tree`` with ``weight_col``).  Counts are
    associative integer adds, so leaves — and therefore the derived tree,
    the prune, the CDF, and the batch DuckDB oracle — are CELL-EXACT equal
    to the batch build over the same data (asserted in tests).

    Why leaves and not the tree itself: the tree census is (levels+1) x
    the leaf histogram, so carrying it as state multiplies both the state
    store and the per-batch shuffle by (levels+1) for information the
    leaves already determine (an earlier revision did exactly that and
    paid 7x state for nothing).  State is bounded by the live value
    DOMAIN, not by row count; for the bounded-integer domains the dyadic
    sketch targets (cents, latencies) that is the CMS-grid exemption, and
    a deployment over a wider domain would prune IN STATE on a cadence
    (flatMapGroupsWithState) rather than only at drain."""
    x = F.col(value_col).cast("long")
    guarded = F.when((x >= 0) & (x < F.lit(1 << bits)), x).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"stream_qdigest_leaves: value outside [0, 2^{bits}): "),
                F.col(value_col).cast("string"),
            )
        )
    )
    return (
        rows.select(guarded.alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def stream_cms_cells(events: DataFrame, depth: int = 4, width: int = 64) -> DataFrame:
    """Count-min sketch maintained AS STREAMING STATE: each micro-batch folds
    its items into the same depth×width cell grid a batch build produces
    (``operators.sketch``), so the running aggregation state is bounded at
    depth·width counters NO MATTER how many distinct items the stream carries
    — the property that makes CMS the heavy-hitters structure for unbounded
    key domains, where an exact per-key streaming count would grow state
    without limit.  Because cell updates are associative integer adds, the
    streamed grid is CELL-EXACT equal to the batch sketch over the same data
    (asserted in tests), not merely approximately equal."""
    from airflow_cms_inpatient_etl_spark.operators.sketch import cms_build

    # delegate to the batch builder — cms_build is pure DataFrame ops, so it
    # works unchanged on a streaming DataFrame, and the batch/stream
    # cell-exact equivalence the test asserts is true BY CONSTRUCTION
    item = F.get_json_object("props", "$.k").cast("long").alias("item")
    return cms_build(events.select(item), "item", depth, width)


def stream_dedup_gate(
    docs_stream: DataFrame,
    index_hashes: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming incremental near-dup gate — `dedup_incremental_index` driven
    continuously: each micro-batch of arriving documents is shingled and
    joined against the STANDING corpus shingle index (never re-shingling the
    corpus), and the per-doc gate rows (shingle total, corpus-shared count,
    ≥50 % near-dup flag) are appended to a parquet sink.  Because the gate
    is computed per document and documents arrive whole, the drained sink is
    independent of how the stream was micro-batched — the final table equals
    the batch query exactly, which is what lets a LIVE streaming run keep a
    full SQL oracle.  foreachBatch is the pattern (no native streaming
    writer composes a static-side join + two aggregations per batch).

    Cost per batch: O(batch shingles) map-side + one int64-keyed equi-join
    against the (bucketed, at scale) index — the daily-crawl ingest shape.
    Callers pass ``index_hashes`` already materialized (a tracked snapshot /
    bucketed table): a lazy plan here would re-derive the index EVERY batch.

    Restart safety: each batch OVERWRITES its own ``batch_id=N``
    subdirectory of ``out_dir`` (a plain append would double-write on a
    crash-replay between the sink write and the checkpoint commit — the
    same torn-write hazard the CDC sink's idempotent merge handles); a
    replayed batch recreates identical content, so the drained sink is
    exactly-once.  Readers see ``batch_id`` as a discovered partition
    column and project it away.

    Returns the started StreamingQuery (caller drains/stops it).
    """
    from airflow_cms_inpatient_etl_spark.operators.text import (
        exploded_shingle_hashes,
    )

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        sh = exploded_shingle_hashes(batch_df, "doc_id", "text")
        tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
        hit = (
            sh.join(index_hashes, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        n_sh = F.coalesce(F.col("n_shingles"), F.lit(0).cast("bigint"))
        n_hit = F.coalesce(F.col("n_shared"), F.lit(0).cast("bigint"))
        frac = n_hit / F.greatest(n_sh, F.lit(1).cast("bigint"))
        (
            batch_df.select("doc_id")
            .join(tot, "doc_id", "left")
            .join(hit, "doc_id", "left")
            .select(
                "doc_id",
                n_sh.alias("n_shingles"),
                n_hit.alias("n_shared"),
                frac.alias("shared_frac"),
                (frac >= 0.5).alias("near_dup_of_corpus"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch_id={int(batch_id)}")
        )

    return (
        docs_stream.writeStream.foreachBatch(gate_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
