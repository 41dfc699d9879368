"""Session hygiene: engine calls leave the session as they found it — no
temp view, conf change, pinned RDD, active stream or temp dir outlives the
call (the contract stated in ``queries/streaming_live.py``)."""

from __future__ import annotations

import os
import tempfile

import pytest

from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
from airflow_cms_inpatient_etl_spark.session import scoped_conf
from airflow_cms_inpatient_etl_spark.sources.registry import release_snapshots
from tests.conftest import SF_SMOKE


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _session_state(spark) -> dict:
    # SHOW VIEWS first: it initializes the catalog (and its warehouse dir)
    views = {r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.isTemporary}
    return {
        "temp_views": views,
        "conf": dict(spark.conf.getAll),
        "persistent_rdds": _persistent_rdds(spark),
        "active_streams": len(spark.streams.active),
        "tmp_entries": set(os.listdir(tempfile.gettempdir())),
    }


def test_scoped_conf_restores_set_and_unset_keys_on_error(spark):
    """A key that was set gets its value back; a key that was unset is
    unset again (not pinned to its default) — also when the body raises."""
    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.maxConcurrentOutputFileWriters"
    before = dict(spark.conf.getAll)
    assert set_key in before and unset_key not in before
    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, {set_key: "3", unset_key: "5"}):
            assert (spark.conf.get(set_key), spark.conf.get(unset_key)) == ("3", "5")
            raise RuntimeError("body failed")
    assert dict(spark.conf.getAll) == before


def test_live_queries_leave_session_as_found(spark, tmp_path):
    """Every registered ``*_live`` query, run back to back in one tuned
    session with its snapshots released after each, leaves no sink view,
    conf entry, pinned RDD, active stream or staging dir behind."""
    names = sorted(n for n in QUERY_REGISTRY if n.endswith("_live"))
    assert len(names) == 11
    # the JVM extracts its snappy/lz4 native libraries into the temp dir on
    # first use and keeps them until it exits: load both (a shuffle and a
    # parquet write) before the snapshot, so only the queries' leftovers count
    spark.range(100).repartition(2).write.parquet(str(tmp_path / "codecs"))
    before = _session_state(spark)
    for name in names:
        QUERY_REGISTRY[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        release_snapshots(spark)
    after = _session_state(spark)
    for key, was in before.items():
        assert after[key] == was, key


def _storage_state(spark) -> tuple[int, bool]:
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return _persistent_rdds(spark), cache_manager.isEmpty()


@pytest.mark.slow
def test_every_query_leaves_storage_as_found(spark):
    """Every registered non-live query, run back to back in one tuned
    session with ONLY ``release_snapshots`` after each (no clearCache),
    leaves the persistent-RDD count and the CacheManager as it found them:
    the tracked snapshot is the engine's one way to pin data."""
    release_snapshots(spark)
    spark.catalog.clearCache()
    leaks = []
    for name in (n for n in QUERY_REGISTRY if not n.endswith("_live")):
        before = _storage_state(spark)
        QUERY_REGISTRY[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        release_snapshots(spark)
        after = _storage_state(spark)
        if after != before:
            leaks.append(f"{name}: (persistent RDDs, CacheManager empty) {before} -> {after}")
    assert not leaks, "\n".join(leaks)


def test_stream_upsert_pins_nothing_per_batch(spark, tmp_path):
    """``stream_upsert_to_parquet`` replaces its own input every micro-batch;
    it must do so without pinning the merged rows (a long-running CDC stream
    would pin one RDD per micro-batch for the life of the session) and
    without leaving its staged copy behind."""
    from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_upsert_to_parquet

    n_batches = 4
    src = tmp_path / "src"
    src.mkdir()
    for i in range(n_batches):
        staging = str(tmp_path / f"staging{i}")
        rows = [(k, f"v{i}", i * 10 + k) for k in range(5)]
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
    before = _persistent_rdds(spark)
    q = stream_upsert_to_parquet(
        updates, str(tmp_path / "target"), str(tmp_path / "ckpt"), ["key"], "seq"
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] == n_batches - 1
    finally:
        q.stop()
    assert _persistent_rdds(spark) == before
    assert not os.path.exists(str(tmp_path / "target") + ".next")
    got = {r["key"]: r["val"] for r in spark.read.parquet(str(tmp_path / "target")).collect()}
    assert got == {k: f"v{n_batches - 1}" for k in range(5)}


# --------------------------------------------------------------------------- #
# stream_upsert_to_parquet: crash windows of the stage-and-swap commit and    #
# the per-batch job budget                                                    #
# --------------------------------------------------------------------------- #

CHANGES = [
    [(1, "a1", 1), (2, "b1", 2), (3, "c1", 3)],
    [(2, "b2", 10), (4, "d1", 11), (4, "d2", 12)],
    [(3, "c3", 20), (5, "e1", 21), (1, "a3", 22)],
]


class _ChangeFeed:
    """A file-source change stream feeding ``stream_upsert_to_parquet``:
    change files are written ahead, then delivered one at a time."""

    def __init__(self, spark, tmp_path, batches):
        self.spark, self.tmp = spark, tmp_path
        self.src = tmp_path / "src"
        self.src.mkdir()
        self.target = str(tmp_path / "target")
        self.staging = self.target + ".next"
        self.pending = [(self._write(i, rows), rows) for i, rows in enumerate(batches)]
        self.delivered = []

    def _write(self, i, rows) -> str:
        """One single-file batch, with an mtime after every earlier one (the
        file source reads in mtime order)."""
        out = str(self.tmp / f"change{i}")
        self.spark.createDataFrame(rows, "key long, val string, seq long").coalesce(
            1
        ).write.parquet(out)
        part = os.path.join(out, next(p for p in os.listdir(out) if p.endswith(".parquet")))
        os.utime(part, (1_700_000_000 + i, 1_700_000_000 + i))
        return part

    def deliver(self) -> None:
        """Move the next change file into the source dir (runs no Spark job)."""
        part, rows = self.pending.pop(0)
        os.rename(part, self.src / f"batch{len(self.delivered)}.parquet")
        self.delivered.append(rows)

    def start(self):
        from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_upsert_to_parquet

        updates = (
            self.spark.readStream.schema("key long, val string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(self.src))
        )
        return stream_upsert_to_parquet(
            updates, self.target, str(self.tmp / "ckpt"), ["key"], "seq"
        )

    def drain(self) -> None:
        q = self.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def table(self) -> dict:
        return {
            r["key"]: (r["val"], r["seq"])
            for r in self.spark.read.parquet(self.target).collect()
        }

    def last_write_wins(self) -> dict:
        rows = sorted((r for b in self.delivered for r in b), key=lambda r: r[2])
        return {k: (v, seq) for k, v, seq in rows}


def test_stream_upsert_promotes_committed_staging(spark, tmp_path):
    """Crash between the swap's delete and its rename: the table dir is gone
    and only the committed staged copy (with ``_SUCCESS``) holds the data.
    The next micro-batch promotes it before merging, so no row is lost and
    no staged dir is left."""
    feed = _ChangeFeed(spark, tmp_path, CHANGES)
    feed.deliver()
    feed.deliver()
    feed.drain()
    os.rename(feed.target, feed.staging)
    assert os.path.exists(os.path.join(feed.staging, "_SUCCESS"))
    feed.deliver()
    feed.drain()
    assert feed.table() == feed.last_write_wins()
    assert not os.path.exists(feed.staging)


def test_stream_upsert_overwrites_uncommitted_staging(spark, tmp_path):
    """Crash while staging: the table is intact and the staged dir holds a
    partial write without ``_SUCCESS``.  It must never be promoted; the next
    micro-batch overwrites it and swaps in its own merge."""
    feed = _ChangeFeed(spark, tmp_path, CHANGES)
    feed.deliver()
    feed.deliver()
    feed.drain()
    spark.createDataFrame([(99, "torn", 99)], "key long, val string, seq long").write.parquet(
        feed.staging
    )
    os.remove(os.path.join(feed.staging, "_SUCCESS"))
    feed.deliver()
    feed.drain()
    assert feed.table() == feed.last_write_wins()
    assert not os.path.exists(feed.staging)


def test_stream_upsert_runs_at_most_three_jobs_per_batch(spark, tmp_path):
    """Each micro-batch computes its merge once, inside its write: at most
    the window shuffle, the broadcast of the batch keys and the write — no
    eager checkpoint, no second exchange of the batch, no schema inference
    after the first read.  Jobs are counted by the range of ids the DAG
    scheduler hands out while the batch runs, which includes the jobs the
    stream runs on its own thread."""
    feed = _ChangeFeed(spark, tmp_path, CHANGES)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    q = feed.start()
    jobs = []
    try:
        for _ in CHANGES:
            lo = scheduler.nextJobId()
            feed.deliver()
            q.processAllAvailable()
            jobs.append(scheduler.nextJobId() - lo)
        assert q.lastProgress["batchId"] == len(CHANGES) - 1
    finally:
        q.stop()
    assert max(jobs) <= 3, jobs
    assert feed.table() == feed.last_write_wins()
