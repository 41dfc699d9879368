"""Live Structured Streaming queries in the graded registry.

The tumbling and late-data runs are deterministic functions of the fixture
(complete-mode retention / pinned file order + integer-µs quantile cuts), so
their final sink tables ARE batch-SQL-expressible and carry real DuckDB
oracles.  The stream-stream join and the custom stateful operator keep
rows-only checks (their incremental emission has no SQL form); their
batch-equivalence is asserted in tests/test_streaming.py instead.

Contract: a live query leaves the session as it found it — no temp view,
conf change, active stream or staging dir outlives the call.  Every drain
goes through ``streaming.jobs.run_stream_to_memory`` (which stops its
stream, drops its sink view and scopes ``DRAIN_CONF``) or, for foreachBatch
sinks, through the same ``scoped_conf``; every staging, sink and checkpoint
dir lives in a ``tempfile.TemporaryDirectory``.  Snapshots the query pins
are the caller's to release (``sources.registry.release_snapshots``) once
the result is consumed."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from airflow_cms_inpatient_etl_spark.queries.base import register
from airflow_cms_inpatient_etl_spark.session import scoped_conf
from airflow_cms_inpatient_etl_spark.streaming.jobs import (
    DRAIN_CONF,
    run_stream_to_memory,
    stream_events,
    tumbling_counts,
)


@register(
    "streaming_tumbling_live",
    oracle="""
    SELECT TIME_BUCKET(INTERVAL '5 minutes', ts) AS window_start,
           TIME_BUCKET(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_tumbling_live(spark, sf_dir):
    """End-to-end Structured Streaming run: file-source stream over the events
    fixture → watermark → tumbling window counts → memory sink, drained with
    processAllAvailable.  Complete output mode retains every window in state
    (the watermark never evicts in complete mode), so the drained sink table
    is deterministically equal to the batch tumbling aggregation — which is
    exactly the SQL oracle: a live incremental execution whose final answer
    is still hash-checkable against DuckDB."""
    with tempfile.TemporaryDirectory(prefix="events_stream_") as stage_dir:
        shutil.copy(f"{sf_dir}/events.parquet", f"{stage_dir}/part-0.parquet")
        return run_stream_to_memory(
            tumbling_counts(stream_events(spark, stage_dir)), output_mode="complete"
        )


def _stage_single_parquet(df, stage_dir: str, name: str, mtime: float) -> None:
    """Write df as ONE parquet file at stage_dir/name with a controlled mtime
    (the file stream source picks files oldest-mtime-first, which is how the
    late batch is forced to arrive second)."""
    tmp = os.path.join(stage_dir, f"_tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dest = os.path.join(stage_dir, name)
    shutil.move(part, dest)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(dest, (mtime, mtime))


def _stage_split_parquet(df, split_col, splits, stage_dir: str) -> None:
    """Stage every micro-batch file of a split fixture in ONE job (guide §6:
    one pass over the input instead of one full scan + coalesce(1) write per
    split — the round-15 deferred item).

    ``split_col`` is an expression labeling each row with its split;
    ``splits`` maps each label to ``(file_name, mtime)``.  A single
    ``coalesce(1)`` task writes one file per label via ``partitionBy`` (the
    label column lives in the directory name, never in the file, so the
    staged schema is identical to the per-split ``_stage_single_parquet``
    output), and each file is then moved/mtime-stamped exactly as before.
    Falls back to the per-split path for any label the partitioned write
    produced no directory for (an empty split writes nothing under
    ``partitionBy``; ``coalesce(1)`` always writes a schema-only file)."""
    from pyspark.sql import functions as F

    tmp = os.path.join(stage_dir, "_tmp_split")
    spark = df.sparkSession
    # dynamic-partition writes sort by the partition column first unless the
    # writer may keep one open file per partition; with 2-3 splits the
    # concurrent writers are free and the sort is a pure extra pass
    # (measured: it cost back the saved scan on the 600k-row lineitem split)
    with scoped_conf(spark, {"spark.sql.maxConcurrentOutputFileWriters": str(len(splits) + 1)}):
        (
            df.withColumn("_split", split_col)
            .coalesce(1)
            .write.mode("overwrite")
            .partitionBy("_split")
            .parquet(tmp)
        )
    for label, (name, mtime) in splits.items():
        parts = glob.glob(os.path.join(tmp, f"_split={label}", "part-*.parquet"))
        if not parts:
            _stage_single_parquet(
                df.filter(split_col == F.lit(label)).drop("_split"),
                stage_dir, name, mtime,
            )
            continue
        dest = os.path.join(stage_dir, name)
        shutil.move(parts[0], dest)
        os.utime(dest, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_late_data_live",
    oracle="""
    WITH b AS (
        SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events
    ),
    ontime AS (
        SELECT ts, event_type FROM events, b
        WHERE epoch_us(ts) >= b.lo + (b.hi - b.lo) // 5
    ),
    agged AS (
        SELECT TIME_BUCKET(INTERVAL '5 minutes', ts) AS window_start,
               TIME_BUCKET(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ontime
        GROUP BY 1, 2, 3
    )
    SELECT window_start, window_end, event_type, n
    FROM agged, b
    WHERE epoch_us(window_end) <= b.hi - 600000000
    """,
)
def streaming_late_data_live(spark, sf_dir):
    """Watermark late-data semantics observed LIVE, not batch-emulated: the
    events fixture is split into two on-time files (newest 80 % of event
    time, split again at 60 %) and a late file (oldest 20 %), streamed one
    file per micro-batch in that order.  Spark filters late events with the
    watermark as of the PREVIOUS batch (``eventTimeWatermarkForLateEvents``
    lags eviction by one batch — verified empirically: a late file arriving
    in batch 1 is NOT filtered, in batch 2 it is), so on-time data spans two
    batches to establish the watermark at max(on-time ts) − 10 min before
    the late file arrives.  Batch 3's events are all far older, so every row
    targets a window already closed by the watermark and is dropped
    (numRowsDroppedByWatermark = full late file) — bounded state, the whole
    point of watermarks at 100 TB stream scale.  Append mode then emits
    exactly the closed windows with on-time-only counts.  Deterministic
    because file order is pinned via mtime and each file is one micro-batch —
    which is what makes the run SQL-oracle-able: on-time membership is an
    integer-µs range predicate and the emitted set is the windows whose end
    precedes the final watermark (max on-time ts − 10 min)."""
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # integer-µs quantile cuts (20 % / 60 % of the time range) so the SQL
    # oracle reproduces the exact same boundaries with integer arithmetic —
    # float timestamp math rounds differently across engines, bigints don't
    lo_us, hi_us = ev.agg(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).collect()[0]
    with tempfile.TemporaryDirectory(prefix="events_late_") as stage_dir:
        # staged files carry ts as µs longs so the stream schema is explicit
        as_long = ev.withColumn("ts", F.unix_micros("ts"))
        cut_us = F.lit(lo_us + (hi_us - lo_us) // 5)
        mid_us = F.lit(lo_us + (hi_us - lo_us) * 3 // 5)
        # all three micro-batch files staged in ONE pass over events
        # (was three filtered coalesce(1) jobs — guide §6, round-15 deferred)
        _stage_split_parquet(
            as_long,
            F.when(F.col("ts") < cut_us, "c")
            .when(F.col("ts") < mid_us, "a")
            .otherwise("b"),
            {
                "a": ("a_ontime1.parquet", 1_000_000_000.0),
                "b": ("b_ontime2.parquet", 1_000_000_100.0),
                "c": ("c_late.parquet", 1_000_000_200.0),
            },
            stage_dir,
        )
        raw = (
            spark.readStream.schema(
                "event_id long, ts long, user_id long, event_type string, "
                "value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        events = raw.withColumn("ts", F.timestamp_micros("ts"))
        return run_stream_to_memory(tumbling_counts(events), output_mode="append")


@register(
    "streaming_stream_stream_join_live",
    oracle="""
    SELECT c.event_id AS click_id, v.user_id, c.ts AS click_ts,
           v.ts AS view_ts, v.value AS view_value
    FROM events v JOIN events c ON c.user_id = v.user_id
    WHERE c.event_type = 'click' AND v.event_type = 'view'
      AND v.ts >= c.ts AND v.ts < c.ts + INTERVAL 6 HOUR
    """,
)
def streaming_stream_stream_join_live(spark, sf_dir):
    """LIVE stream-stream inner join (two independent file-source streams over
    the events fixture): views attributed to same-user clicks within 6
    hours, watermarked on both sides so join state is evictable — the
    feature that makes stream-stream joins viable at 100 TB (unbounded state
    otherwise).  HASH-ORACLED (new in round 7): a streaming INNER join emits
    each match eagerly in the micro-batch where both rows are present (the
    watermark only bounds state, it never gates inner-join emission), so a
    single-batch drain deterministically produces the complete interval
    join — which is plain SQL.  Batch-equivalence under multi-batch
    arrival stays covered in tests/test_streaming.py."""
    from airflow_cms_inpatient_etl_spark.streaming.jobs import (
        stream_stream_click_view_join,
    )

    with tempfile.TemporaryDirectory(prefix="events_ssj_") as stage_dir:
        shutil.copy(f"{sf_dir}/events.parquet", f"{stage_dir}/part-0.parquet")
        joined = stream_stream_click_view_join(
            stream_events(spark, stage_dir), stream_events(spark, stage_dir)
        )
        return run_stream_to_memory(joined, output_mode="append")


@register(
    "streaming_stateful_profile_live",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(14,2)) * 100) AS BIGINT) AS DOUBLE) / 100
             AS sum_value
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_profile_live(spark, sf_dir):
    """LIVE custom stateful operator (``applyInPandasWithState``): per-user
    running profile (event count + value sum) over the events stream — the
    escape hatch for stateful semantics Spark's built-in windows can't
    express (session carts, feature accumulators).  State is one tuple per
    user (O(|users|) regardless of stream length) and the update function is
    Arrow-batched, not per-row.  HASH-ORACLED (new in round 7): the state
    accumulates EXACT integer cents (see streaming/stateful.py), so the
    update-mode drain of a single batch emits one bit-deterministic row per
    user equal to the batch decimal aggregate — plain SQL.  Multi-batch
    accumulation equivalence stays covered in tests/test_streaming.py."""
    from airflow_cms_inpatient_etl_spark.streaming.stateful import running_user_profile

    with tempfile.TemporaryDirectory(prefix="events_stateful_") as stage_dir:
        shutil.copy(f"{sf_dir}/events.parquet", f"{stage_dir}/part-0.parquet")
        return run_stream_to_memory(
            running_user_profile(stream_events(spark, stage_dir)), output_mode="update"
        )


@register(
    "streaming_dedup_within_watermark_live",
    oracle="""
    SELECT event_id, ts, event_type, value FROM events
    """,
)
def streaming_dedup_within_watermark_live(spark, sf_dir):
    """LIVE streaming dedup: ``dropDuplicatesWithinWatermark`` over a stream
    that delivers the whole events fixture TWICE (an at-least-once source's
    redelivery, micro-batch per copy) — the streaming member of the dedup
    family.  State is one entry per key inside the watermark horizon and is
    EVICTED as event time advances past it, which is what makes streaming
    dedup viable at 100 TB (plain ``dropDuplicates`` on a stream keeps every
    key forever); the horizon here is sized past the fixture's time span
    (computed as an integer-µs range, like the late-data run) so within this
    bounded drain NO state evicts and the run is deterministic: every first
    arrival emits, every redelivery is suppressed, and the drained sink
    equals the batch DISTINCT — i.e. the events table itself, which is the
    SQL oracle.  Eviction-under-advancing-watermark is covered separately in
    tests/test_streaming.py, where determinism is not required."""
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    lo_us, hi_us = ev.agg(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).collect()[0]
    horizon_min = (hi_us - lo_us) // 60_000_000 + 11
    with tempfile.TemporaryDirectory(prefix="events_dedup_") as stage_dir:
        as_long = ev.withColumn("ts", F.unix_micros("ts"))
        # the redelivery file is byte-identical to the first — write once,
        # copy the file (was two identical full-scan coalesce(1) jobs)
        _stage_single_parquet(as_long, stage_dir, "a_first.parquet", 1_000_000_000.0)
        first = os.path.join(stage_dir, "a_first.parquet")
        redeliver = os.path.join(stage_dir, "b_redelivery.parquet")
        shutil.copy(first, redeliver)
        os.utime(redeliver, (1_000_000_100.0, 1_000_000_100.0))
        raw = (
            spark.readStream.schema(
                "event_id long, ts long, user_id long, event_type string, "
                "value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        deduped = (
            raw.withColumn("ts", F.timestamp_micros("ts"))
            .withWatermark("ts", f"{horizon_min} minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "ts", "event_type", "value")
        )
        return run_stream_to_memory(deduped, output_mode="append")


@register(
    "streaming_session_window_live",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '30 minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def streaming_session_window_live(spark, sf_dir):
    """LIVE streaming sessionization: ``F.session_window`` over a file-source
    stream with a watermark, drained in complete mode — the session-window
    member of the live-streaming family (tumbling/late/dedup already run
    live).  Complete mode retains and keeps merging session state, so the
    drained sink equals the batch session_window aggregation, whose
    gaps-and-islands SQL form is the oracle (same construction as the batch
    `events_session_window`).  In production the same plan runs in append
    mode where the watermark EVICTS closed sessions — bounded state; that
    eviction path is exercised in tests/test_streaming.py."""
    import pyspark.sql.functions as F

    from airflow_cms_inpatient_etl_spark.functions.exact import dsum

    with tempfile.TemporaryDirectory(prefix="events_sess_") as stage_dir:
        shutil.copy(f"{sf_dir}/events.parquet", f"{stage_dir}/part-0.parquet")
        ev = stream_events(spark, stage_dir)
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
                "sum_value",
            )
        )
        return run_stream_to_memory(agg, output_mode="complete")


@register(
    "streaming_sliding_window_live",
    oracle="""
    WITH expanded AS (
        SELECT TIME_BUCKET(INTERVAL '5 minutes', ts) - (k * INTERVAL '5 minutes') AS window_start,
               value
        FROM events, (VALUES (0), (1)) AS offs(k)
    )
    SELECT window_start,
           window_start + INTERVAL '10 minutes' AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM expanded
    GROUP BY window_start
    """,
)
def streaming_sliding_window_live(spark, sf_dir):
    """LIVE sliding windows (10-minute length, 5-minute slide) over a
    file-source stream, drained in complete mode — completes the live window
    trio (tumbling and session already run live).  Each event lands in
    length/slide windows exactly as in the batch expansion, so the drained
    sink equals the batch sliding aggregation, which is the oracle."""
    import pyspark.sql.functions as F

    with tempfile.TemporaryDirectory(prefix="events_slide_") as stage_dir:
        shutil.copy(f"{sf_dir}/events.parquet", f"{stage_dir}/part-0.parquet")
        ev = stream_events(spark, stage_dir)
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes", "5 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("window.start").alias("window_start"),
                F.col("window.end").alias("window_end"),
                "n",
            )
        )
        return run_stream_to_memory(agg, output_mode="complete")


@register(
    "streaming_dedup_gate_live",
    # the drained sink equals the BATCH incremental-dedup query exactly (the
    # gate is per-document and documents arrive whole, so micro-batching
    # cannot change the result) — reuse its oracle verbatim
    oracle=None,  # filled below from the registered batch query
)
def streaming_dedup_gate_live(spark, sf_dir):
    """LIVE streaming ingest dedup — `dedup_incremental_index` as a running
    stream: the delta documents (doc_id % 10 == 0) arrive as a file-source
    stream in TWO forced micro-batches (maxFilesPerTrigger=1, mtime-ordered
    files), each batch is shingled and gated against the STANDING corpus
    shingle index (a tracked snapshot — materialized once, NOT re-derived
    per batch), and foreachBatch appends the per-doc gate rows to a parquet
    sink.  The drained sink is batching-invariant, so this live incremental
    run keeps the batch query's full DuckDB oracle — same contract as
    `streaming_tumbling_live`.  The two-batch split is the proof of
    incrementality: a single-drain run would be indistinguishable from
    batch."""
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.operators.text import (
        exploded_shingle_hashes,
    )
    from airflow_cms_inpatient_etl_spark.sources.registry import load_table, snapshot
    from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_dedup_gate

    d = load_table(spark, sf_dir, "documents")
    index = snapshot(
        exploded_shingle_hashes(d.filter(F.col("doc_id") % 10 != 0), "doc_id", "text")
        .select("h")
        .distinct()
    )
    delta = d.filter(F.col("doc_id") % 10 == 0)
    with tempfile.TemporaryDirectory(prefix="dedup_gate_") as tmp:
        stage_dir, out_dir, ckpt_dir = (os.path.join(tmp, sub) for sub in ("stage", "out", "ckpt"))
        # both micro-batch files staged in ONE pass over the delta (guide §6)
        _stage_split_parquet(
            delta,
            F.when(F.col("doc_id") % 20 == 0, "a").otherwise("b"),
            {"a": ("batch_a.parquet", 1_000), "b": ("batch_b.parquet", 2_000)},
            stage_dir,
        )
        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        # the per-micro-batch gate joins drain under the same conf as every
        # memory-sink drain; foreachBatch creates out_dir on its first batch
        with scoped_conf(spark, DRAIN_CONF):
            q = stream_dedup_gate(stream, index, out_dir, ckpt_dir)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        rows = [
            (r["doc_id"], r["n_shingles"], r["n_shared"], r["shared_frac"],
             r["near_dup_of_corpus"])
            for r in spark.read.parquet(out_dir).collect()
        ]
        return spark.createDataFrame(
            rows,
            schema="doc_id bigint, n_shingles bigint, n_shared bigint, "
            "shared_frac double, near_dup_of_corpus boolean",
        )


# wire the batch query's oracle onto the live run (same final table by
# construction); dedup is imported before this module by queries/__init__,
# and a direct import keeps standalone module loading working too
import dataclasses as _dc  # noqa: E402

from airflow_cms_inpatient_etl_spark.queries import dedup as _dedup  # noqa: E402,F401
from airflow_cms_inpatient_etl_spark.queries.base import QUERY_REGISTRY as _REG  # noqa: E402

_REG["streaming_dedup_gate_live"] = _dc.replace(
    _REG["streaming_dedup_gate_live"], oracle=_REG["dedup_incremental_index"].oracle
)


@register(
    "streaming_heavy_hitters_live",
    # the drained COMPLETE-mode grid is CELL-EXACT equal to the batch sketch
    # (cell updates are associative integer adds, so micro-batching cannot
    # change the final grid) — the estimate/accountability tail is therefore
    # identical to heavy_hitters_cms and its oracle is reused verbatim below
    oracle=None,  # filled below from the registered batch query
)
def streaming_heavy_hitters_live(spark, sf_dir):
    """LIVE streaming count-min sketch — `heavy_hitters_cms` as a running
    stream: events arrive as a file-source stream in TWO forced micro-batches
    (event_id-parity split, mtime-ordered, maxFilesPerTrigger=1), and
    `stream_cms_cells` maintains the depth x width grid as streaming
    aggregation STATE (bounded at 256 counters no matter how many distinct
    items flow — the whole reason CMS is the streaming heavy-hitters
    structure).  Complete-mode drain yields the final grid; because cell
    updates are associative adds the drained grid is cell-exact equal to the
    batch sketch, so the estimate + accountability tail (est >= exact,
    within the empirical width bound) keeps the batch query's full DuckDB
    oracle — the `streaming_tumbling_live` contract extended to sketches.
    The two-batch split is the proof of incremental state maintenance."""
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.operators.sketch import cms_estimate
    from airflow_cms_inpatient_etl_spark.sources.registry import load_table
    from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_cms_cells

    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    with tempfile.TemporaryDirectory(prefix="events_cms_") as stage_dir:
        # both micro-batch files staged in ONE pass over events (guide §6)
        _stage_split_parquet(
            ev,
            F.when(F.col("event_id") % 2 == 0, "a").otherwise("b"),
            {
                "a": ("a_even.parquet", 1_000_000_000.0),
                "b": ("b_odd.parquet", 1_000_000_100.0),
            },
            stage_dir,
        )
        raw = (
            spark.readStream.schema("event_id long, props string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        sketch = run_stream_to_memory(stream_cms_cells(raw), output_mode="complete")

    # accountability tail — identical to heavy_hitters_cms, fed by the
    # STREAMED grid instead of a batch build
    items = (
        load_table(spark, sf_dir, "events")
        .select(F.get_json_object("props", "$.k").cast("long").alias("item"))
        .filter(F.col("item").isNotNull())
    )
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(exact, sketch, "item", 4, 64)
    total = exact.agg(F.sum("exact_count").alias("n_total"))
    return (
        exact.join(est, "item")
        .crossJoin(F.broadcast(total))
        .select(
            "item",
            "exact_count",
            (F.col("cms_estimate") >= F.col("exact_count")).alias("est_ge_exact"),
            (
                F.col("cms_estimate") - F.col("exact_count")
                <= F.expr("8 * n_total div 64")
            ).alias("within_bound"),
        )
    )


# pipeline before curation2: pipeline's v6 oracle loads analytics, whose
# sketch_qdigest_quantiles oracle streaming_percentiles_live borrows below,
# and the import order fixes the registration order of the registry tail
from airflow_cms_inpatient_etl_spark.queries import pipeline as _pipeline  # noqa: E402,F401
from airflow_cms_inpatient_etl_spark.queries import curation2 as _curation2  # noqa: E402,F401

_REG["streaming_heavy_hitters_live"] = _dc.replace(
    _REG["streaming_heavy_hitters_live"], oracle=_REG["heavy_hitters_cms"].oracle
)


@register(
    "streaming_percentiles_live",
    # the drained COMPLETE-mode census is CELL-EXACT equal to the batch
    # dyadic tree (cell updates are associative integer adds), so the
    # prune/CDF/quantile/verification tail — and the batch query's DuckDB
    # bounds-oracle — apply verbatim; filled below from the registered query
    oracle=None,
)
def streaming_percentiles_live(spark, sf_dir):
    """LIVE streaming percentiles — `sketch_qdigest_quantiles` as a running
    stream (the round-13 verdict's stretch #8): lineitem prices arrive as a
    file-source stream in TWO forced micro-batches (l_orderkey-parity split,
    mtime-ordered, maxFilesPerTrigger=1), and `stream_qdigest_leaves`
    maintains the LEAF histogram (cents -> count) as streaming aggregation
    STATE — the minimal state that determines the whole sketch; the drain
    derives the (level, node) census with the batch ancestor explode
    (`dyadic_tree` over the weighted leaves).  Associative adds make the
    drained leaves — and therefore the derived tree — cell-exact equal to
    the batch build, so the shared `_qdigest_flags_from_tree` tail
    (prune -> CDF -> quantile pick -> full-data verification) keeps the
    batch query's full DuckDB bounds-oracle — the
    `streaming_heavy_hitters_live` doctrine extended from frequency to RANK.
    The two-batch split is the proof of incremental state maintenance."""
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.queries.analytics import (
        _QD_BITS,
        _QD_RADIX,
        _qdigest_flags_from_tree,
    )
    from airflow_cms_inpatient_etl_spark.operators.sketch import dyadic_tree
    from airflow_cms_inpatient_etl_spark.sources.registry import (
        load_table,
        snapshot,
        spread_scan,
    )
    from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_qdigest_leaves

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    with tempfile.TemporaryDirectory(prefix="lineitem_qd_") as stage_dir:
        # both micro-batch files staged in ONE pass over lineitem (guide §6:
        # one scan+write instead of two — the round-15 deferred item)
        _stage_split_parquet(
            li,
            F.when(F.col("l_orderkey") % 2 == 0, "a").otherwise("b"),
            {
                "a": ("a_even.parquet", 1_000_000_000.0),
                "b": ("b_odd.parquet", 1_000_000_100.0),
            },
            stage_dir,
        )
        raw = (
            spark.readStream.schema("l_orderkey long, l_extendedprice double")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        cents_stream = raw.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
        )
        leaves = run_stream_to_memory(
            stream_qdigest_leaves(cents_stream, "cents", _QD_BITS), output_mode="complete"
        )
    tree = snapshot(dyadic_tree(leaves, "v", _QD_BITS, radix=_QD_RADIX, weight_col="cnt"))

    # verification tail — identical to sketch_qdigest_quantiles, fed by
    # the STREAMED census instead of a batch build; spread the one-task
    # fixture scan so the x5 verification expansion parallelizes (guarded
    # no-op on a parallel production scan)
    vals = spread_scan(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        ),
        "l_orderkey",
    ).select("cents")
    return _qdigest_flags_from_tree(spark, tree, vals)


_REG["streaming_percentiles_live"] = _dc.replace(
    _REG["streaming_percentiles_live"], oracle=_REG["sketch_qdigest_quantiles"].oracle
)


@register(
    "streaming_asof_live",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, MAX(c.ts) AS last_click_ts
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts > p.ts - INTERVAL 6 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def streaming_asof_live(spark, sf_dir):
    """LIVE streaming AS-OF join — the one streaming twin §2.B's batch
    family was missing (`events_asof_last_click` had no live form): for
    each purchase, the most recent same-user click at-or-before it, within
    a declared 6-hour tolerance.  Two independent file-source streams feed
    a watermarked stream-stream inner join whose time condition is bounded
    in BOTH directions (evictable join state — the tolerance is exactly
    what makes a streaming as-of well-posed; unbounded lookback would pin
    every click in state forever).  Inner-join emission is eager and exact,
    so the single-batch drain is deterministically the full interval
    candidate set; the terminal as-of pick (MAX(click_ts) per purchase)
    reduces the DRAINED sink — purchase-grained, not stream-grained (the
    `streaming_percentiles_live` drain-then-reduce discipline).  Purchases
    with no click inside the tolerance do not emit (inner as-of).
    Multi-batch arrival equivalence is asserted in tests/test_round15.py."""
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_asof_candidates

    with tempfile.TemporaryDirectory(prefix="events_asof_") as stage_dir:
        shutil.copy(f"{sf_dir}/events.parquet", f"{stage_dir}/part-0.parquet")
        cand = stream_asof_candidates(
            stream_events(spark, stage_dir), stream_events(spark, stage_dir)
        )
        drained = run_stream_to_memory(cand, output_mode="append")
    return drained.groupBy("event_id", "user_id", "ts").agg(
        F.max("click_ts").alias("last_click_ts")
    )
