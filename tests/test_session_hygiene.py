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


def test_stream_upsert_pins_nothing_per_batch(spark, tmp_path):
    """``stream_upsert_to_parquet`` materializes each merged batch before
    overwriting its own input; the pinned blocks must be freed once the
    overwrite has landed, or a long-running CDC stream pins one RDD per
    micro-batch for the life of the session."""
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
    got = {r["key"]: r["val"] for r in spark.read.parquet(str(tmp_path / "target")).collect()}
    assert got == {k: f"v{n_batches - 1}" for k in range(5)}
