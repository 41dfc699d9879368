"""Structured Streaming tests: file-source streams driven to completion with
the memory sink, asserted against the equivalent batch computation
(batch-equivalence is the streaming oracle — SURVEY §7)."""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.session import scoped_conf
from airflow_cms_inpatient_etl_spark.sources.registry import load_table
from airflow_cms_inpatient_etl_spark.streaming.jobs import (
    dedup_within_watermark,
    run_stream_to_memory,
    stream_events,
    tumbling_counts,
)
from airflow_cms_inpatient_etl_spark.streaming.stateful import running_user_profile
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_stream_dir(tmp_path_factory):
    """File streaming source wants a directory; stage the fixture into one."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-0.parquet")
    return str(d)


def _table(name):
    return f"{name}_{uuid.uuid4().hex[:8]}"


def test_streaming_tumbling_counts_match_batch(spark, events_stream_dir):
    events = stream_events(spark, events_stream_dir)
    drained = run_stream_to_memory(tumbling_counts(events), output_mode="complete")
    streamed = {
        (r["window_start"], r["event_type"]): r["n"] for r in drained.collect()
    }
    batch = load_table(spark, SF_SMOKE, "events")
    expected = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert streamed == expected and len(streamed) > 0


def test_streaming_append_mode_emits_closed_windows(spark, events_stream_dir):
    """Append mode with a watermark: windows closed by the final watermark are
    emitted; the still-open tail may be withheld — so streamed ⊆ batch."""
    events = stream_events(spark, events_stream_dir)
    drained = run_stream_to_memory(tumbling_counts(events), output_mode="append")
    streamed = {
        (r["window_start"], r["event_type"]): r["n"] for r in drained.collect()
    }
    batch = load_table(spark, SF_SMOKE, "events")
    expected = {
        (r["window"]["start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(streamed) > 0
    assert streamed.items() <= expected.items()


def test_streaming_dedup_within_watermark(spark, events_stream_dir, tmp_path):
    """Duplicate the stream dir contents → dropDuplicatesWithinWatermark
    collapses the copies back to the original cardinality."""
    import shutil as _sh

    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    _sh.copy(f"{events_stream_dir}/part-0.parquet", dup_dir / "a.parquet")
    _sh.copy(f"{events_stream_dir}/part-0.parquet", dup_dir / "b.parquet")
    events = stream_events(spark, str(dup_dir))
    drained = run_stream_to_memory(
        dedup_within_watermark(events).select("user_id", "event_type", "ts"),
        output_mode="append",
    )
    n_unique = load_table(spark, SF_SMOKE, "events").select("user_id", "event_type", "ts").distinct().count()
    assert drained.count() == n_unique


def test_foreach_batch_exactly_once_style_sink(spark, events_stream_dir, tmp_path):
    """foreachBatch custom sink: per-epoch idempotent parquet writes (the
    exactly-once pattern — writer keyed by batch id, overwrite on replay)."""
    out_dir = str(tmp_path / "epochs")
    events = stream_events(spark, events_stream_dir)
    counts = tumbling_counts(events)

    def write_epoch(batch_df, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    q = counts.writeStream.outputMode("complete").foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = spark.read.parquet(f"{out_dir}/epoch=0")
    batch = load_table(spark, SF_SMOKE, "events")
    expected_windows = (
        batch.groupBy(F.window("ts", "5 minutes"), "event_type").count().count()
    )
    assert written.count() == expected_windows


def test_checkpoint_restart_processes_each_file_once(spark, tmp_path):
    """Checkpointed restart semantics: after a stop, a restarted query resumes
    from the checkpoint and processes only NEW files — no reprocessing."""
    import shutil as _sh

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _sh.copy(f"{SF_SMOKE}/events.parquet", src / "a.parquet")

    seen_batches = []

    def sink(batch_df, epoch_id):
        seen_batches.append((epoch_id, batch_df.count()))

    def run_once():
        q = (
            stream_events(spark, str(src))
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    first_total = sum(n for _, n in seen_batches)
    assert first_total == 1000  # sf0.001 events

    _sh.copy(f"{SF_SMOKE}/events.parquet", src / "b.parquet")
    run_once()
    second_total = sum(n for _, n in seen_batches) - first_total
    assert second_total == 1000  # only the new file; no reprocessing of a.parquet


@pytest.mark.slow
def test_stream_stream_join_matches_batch(spark, events_stream_dir):
    """Stream-stream inner join == the equivalent batch interval join: every
    (click, view) attribution pair the batch join produces is emitted by the
    streaming join (final watermark may withhold the open tail, so streamed
    ⊆ batch; with one input batch the sets are equal)."""
    from airflow_cms_inpatient_etl_spark.streaming.jobs import (
        stream_stream_click_view_join,
    )

    drained = run_stream_to_memory(
        stream_stream_click_view_join(
            stream_events(spark, events_stream_dir), stream_events(spark, events_stream_dir)
        ),
        output_mode="append",
    )
    streamed = {
        (r["click_id"], r["user_id"], r["view_ts"]) for r in drained.collect()
    }
    e = load_table(spark, SF_SMOKE, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", F.col("ts").alias("view_ts"))
    batch = {
        (r["click_id"], r["user_id"], r["view_ts"])
        for r in views.join(
            clicks,
            (F.col("cu") == F.col("user_id"))
            & (F.col("view_ts") >= F.col("cts"))
            & (F.col("view_ts") < F.col("cts") + F.expr("INTERVAL 6 HOURS")),
        ).collect()
    }
    assert len(streamed) > 0
    assert streamed <= batch
    # one input file = one batch: the final watermark closes everything
    assert streamed == batch


def test_kill_mid_batch_recovery_no_loss_no_dup(spark, tmp_path):
    """Exactly-once under CRASH, not just clean restart: the sink dies after
    a torn half-write of epoch 1's output but before Spark commits that batch
    to the checkpoint.  Restarting from the same checkpoint must replay epoch
    1 with the SAME batch id over the SAME files, so the idempotent
    overwrite-by-epoch sink repairs the torn write — final output equals the
    input exactly: no loss, no duplicates."""
    import os

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # three disjoint, covering slices -> three single-file micro-batches
    ids = load_table(spark, SF_SMOKE, "events").select("event_id")
    for i in range(3):
        staging = str(tmp_path / f"staging{i}")
        ids.filter(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.parquet(staging)
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        dest = src / f"slice{i}.parquet"
        os.rename(os.path.join(staging, part), dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))  # stable mtime order

    attempts = []

    def make_sink(crash_on_epoch):
        def sink(batch_df, epoch_id):
            attempts.append(epoch_id)
            if epoch_id == crash_on_epoch:
                half = batch_df.limit(batch_df.count() // 2)
                half.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")
                raise RuntimeError("simulated crash mid-batch")
            batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")
        return sink

    def run(sink):
        q = (
            spark.readStream.schema("event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    with pytest.raises(Exception, match="simulated crash mid-batch"):
        run(make_sink(crash_on_epoch=1))
    run(make_sink(crash_on_epoch=None))  # recovery run: no crash

    # the crashed epoch was replayed under the same batch id
    assert attempts == [0, 1, 1, 2]
    got = sorted(r["event_id"] for r in spark.read.parquet(f"{out}/epoch=*").collect())
    expected = sorted(r["event_id"] for r in ids.collect())
    assert got == expected  # exact multiset equality: no loss, no dup


def test_stateful_running_profile(spark, events_stream_dir):
    """applyInPandasWithState: final per-user totals equal the batch aggregate."""
    events = stream_events(spark, events_stream_dir)
    drained = run_stream_to_memory(running_user_profile(events), output_mode="update")
    # update mode with one input batch → one row per user
    got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 2)) for r in drained.collect()}
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    expected = {r["user_id"]: (r["n"], round(r["s"], 2)) for r in batch.collect()}
    assert got == expected


def test_streaming_late_data_dropped_live(spark):
    """The registered live late-data query: micro-batch 2's late events (all
    older than the batch-1 watermark) are dropped, so every emitted window
    carries the on-time-only count and no late-only window appears."""
    from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY

    out = QUERY_REGISTRY["streaming_late_data_live"].fn(spark, SF_SMOKE)
    streamed = {
        (r["window_start"], r["event_type"]): r["n"] for r in out.collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cutoff = lo + (hi - lo) * 0.2

    def windowed(df):
        return {
            (r["window"]["start"], r["event_type"]): r["n"]
            for r in df.groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    ontime = windowed(ev.filter(F.col("ts") >= F.lit(cutoff)))
    full = windowed(ev)
    assert len(streamed) > 0
    # emitted windows match the on-time-only counts ...
    assert streamed.items() <= ontime.items()
    # ... and no window that exists only because of late data is emitted
    late_only = set(full) - set(ontime)
    assert late_only and set(streamed).isdisjoint(late_only)


@pytest.mark.slow
def test_stream_upsert_to_parquet_matches_batch_merge(spark, tmp_path):
    """Streaming CDC materialization: a two-micro-batch change feed merged
    into a parquet table via foreachBatch + type-1 upsert must land the same
    final state as merging the batches offline — including within-batch
    compaction (two updates for one key in one batch keep the later seq)."""
    import os

    from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_upsert_to_parquet

    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    b1 = [(1, "a1", 1), (2, "b1", 2), (3, "c1", 3), (4, "d1", 4)]
    b2 = [(3, "c2", 10), (4, "d2", 11), (5, "e1", 12), (5, "e2", 13), (6, "f1", 14)]
    for i, rows in enumerate([b1, b2]):
        staging = str(tmp_path / f"staging{i}")
        spark.createDataFrame(rows, "key long, val string, seq long").coalesce(1).write.parquet(
            staging
        )
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        dest = src / f"batch{i}.parquet"
        os.rename(os.path.join(staging, part), dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    updates = (
        spark.readStream.schema("key long, val string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_upsert_to_parquet(updates, target, ckpt, ["key"], "seq")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["key"]: (r["val"], r["seq"]) for r in spark.read.parquet(target).collect()}
    assert got == {
        1: ("a1", 1),
        2: ("b1", 2),
        3: ("c2", 10),  # updated by batch 2
        4: ("d2", 11),
        5: ("e2", 13),  # within-batch compaction kept the later seq
        6: ("f1", 14),
    }


@pytest.mark.slow
def test_stateful_sessionize_with_timeout(spark, tmp_path):
    """EventTimeTimeout sessionization: sessions close (and emit exactly once)
    when the watermark passes last-event + gap; open sessions emit nothing;
    timed-out state is removed (bounded memory)."""
    import os

    from pyspark.sql import functions as SF

    from airflow_cms_inpatient_etl_spark.streaming.stateful import sessionize_with_timeout

    src = tmp_path / "src"
    src.mkdir()
    t0 = 1_700_000_000_000_000  # µs
    minute = 60_000_000
    batches = [
        # user 1: three events over 2 min; user 2: single event
        [(1, t0), (1, t0 + minute), (1, t0 + 2 * minute), (2, t0)],
        # 2 h later: advances the watermark past user 1/2's timeout
        [(3, t0 + 120 * minute)],
        # any further batch triggers the timed-out emissions
        [(3, t0 + 240 * minute)],
    ]
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"staging{i}")
        spark.createDataFrame(rows, "user_id long, ts long").coalesce(1).write.parquet(staging)
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        dest = src / f"b{i}.parquet"
        os.rename(os.path.join(staging, part), dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("user_id long, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", SF.timestamp_micros("ts"))
    )
    drained = run_stream_to_memory(
        sessionize_with_timeout(stream, gap="30 minutes"), output_mode="append"
    )
    got = {
        r["user_id"]: (r["session_start"], r["session_end"], r["n_events"])
        for r in drained.collect()
    }
    from datetime import datetime, timezone

    def us(v):
        return datetime.fromtimestamp(v / 1e6, tz=timezone.utc).replace(tzinfo=None)

    # users 1 and 2 closed by watermark; user 3's session is still open
    assert got == {
        1: (us(t0), us(t0 + 2 * minute), 3),
        2: (us(t0), us(t0), 1),
    }


@pytest.mark.slow
def test_stream_upsert_corrupt_target_fails_batch(spark, tmp_path):
    """Round-3 advice (medium): a target dir that EXISTS but cannot be read
    (corrupt file, FS hiccup) must fail the batch for checkpoint replay — the
    old catch-all silently replaced the accumulated table with just the
    current micro-batch.  Only a genuinely-absent target is 'first batch'."""
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_upsert_to_parquet

    src = tmp_path / "src"
    src.mkdir()
    target = tmp_path / "target"
    ckpt = str(tmp_path / "ckpt")

    # corrupt pre-existing table: dir exists, parquet footer is garbage
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"not a parquet file")

    staging = str(tmp_path / "staging")
    spark.createDataFrame(
        [(1, "a1", 1)], "key long, val string, seq long"
    ).coalesce(1).write.parquet(staging)
    part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
    os.rename(os.path.join(staging, part), src / "batch0.parquet")

    updates = (
        spark.readStream.schema("key long, val string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_upsert_to_parquet(updates, str(target), ckpt, ["key"], "seq")
    try:
        with pytest.raises((StreamingQueryException, Py4JJavaError)):
            q.processAllAvailable()
    finally:
        q.stop()
    # the corrupt table was NOT silently overwritten by the micro-batch
    assert (target / "part-00000.parquet").read_bytes() == b"not a parquet file"


def test_streaming_cms_cells_equal_batch_sketch(spark, events_stream_dir):
    """The streamed sketch state is cell-for-cell identical to the batch
    build — the exactness that mergeable-integer sketches give streaming
    (state stays bounded at depth*width regardless of item cardinality)."""
    from airflow_cms_inpatient_etl_spark.operators.sketch import cms_build
    from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_cms_cells

    events = stream_events(spark, events_stream_dir)
    drained = run_stream_to_memory(stream_cms_cells(events), output_mode="complete")
    streamed = {(r["row"], r["col"]): r["cnt"] for r in drained.collect()}
    items = load_table(spark, SF_SMOKE, "events").select(
        F.get_json_object("props", "$.k").cast("long").alias("item")
    )
    batch = {(r["row"], r["col"]): r["cnt"] for r in cms_build(items, "item").collect()}
    assert streamed == batch and len(streamed) > 0
    # bounded-state contract: the grid never exceeds depth*width cells
    assert len(streamed) <= 4 * 64


@pytest.mark.slow
def test_dedup_state_evicts_past_watermark(spark, tmp_path):
    """The 100 TB property behind dropDuplicatesWithinWatermark: key state is
    EVICTED once event time passes the horizon, so state is O(keys inside
    the horizon), not O(all keys ever seen).  Three micro-batches (mtime-
    ordered files, 10-min horizon): batch-1 keys become evictable when
    batch 2 advances the watermark an hour, so by batch 3 the store holds
    only the keys still inside the horizon."""
    import datetime as dt
    import glob as _glob
    import os as _os
    import shutil as _sh

    d = tmp_path / "evict"
    d.mkdir()

    def stage(rows, name, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        tmp = str(tmp_path / f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(tmp + "/part-*.parquet")[0]
        dest = str(d / name)
        _sh.move(part, dest)
        _os.utime(dest, (mtime, mtime))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    H = dt.timedelta
    stage([(i, t0, 1, "a", 0.0, "{}") for i in range(10)], "a.parquet", 1e9)
    stage([(i, t0 + H(hours=1), 1, "a", 0.0, "{}") for i in range(10, 20)], "b.parquet", 1e9 + 100)
    stage([(20, t0 + H(hours=2), 1, "a", 0.0, "{}")], "c.parquet", 1e9 + 200)

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        raw = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        deduped = (
            raw.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id")
        )
        name = _table("evict")
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            progresses = [p for p in q.recentProgress if p["stateOperators"]]
        finally:
            q.stop()

    assert spark.table(name).count() == 21  # every key unique -> all emitted
    removed = sum(p["stateOperators"][0]["numRowsRemoved"] for p in progresses)
    final_total = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    assert removed >= 10, removed  # batch-1 keys left the store
    assert final_total <= 11, final_total  # only keys inside the horizon remain
