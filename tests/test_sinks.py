"""Sink/source surface tests: partitioned parquet (with pruning), bucketed
catalog tables, CSV/JSON roundtrips, JDBC reader construction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.sources.files import read_csv_projected, read_json, write_table
from airflow_cms_inpatient_etl_spark.sources.jdbc import jdbc_reader
from airflow_cms_inpatient_etl_spark.sources.registry import load_table
from tests.conftest import SF_SMOKE


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """dt-style partitioned layout: a lang filter must prune to one directory."""
    d = load_table(spark, SF_SMOKE, "documents")
    dest = str(tmp_path / "docs_by_lang")
    write_table(d, dest, partition_by=["lang"])
    back = spark.read.parquet(dest).filter(F.col("lang") == "es")
    assert back.count() == d.filter(F.col("lang") == "es").count()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = back._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:120]


def test_bucketed_table_join_avoids_shuffle(spark, tmp_path):
    """bucketBy co-location: a join between two tables bucketed on the key
    plans without an Exchange on either side (the 100 TB join strategy)."""
    import shutil
    import uuid

    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    # the in-memory catalog is per-session but the warehouse dir persists:
    # DROP TABLE can't see last run's tables, so use unique names + clean dirs
    suffix = uuid.uuid4().hex[:8]
    t_orders, t_cust = f"orders_bkt_{suffix}", f"customer_bkt_{suffix}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (t_orders, t_cust):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode("overwrite").saveAsTable(t_orders)
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode("overwrite").saveAsTable(t_cust)
    joined = spark.table(t_orders).join(
        spark.table(t_cust),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    # disable broadcast so the co-located join strategy is what's tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not reshuffle"
        assert joined.count() == o.join(c, F.col("o_custkey") == F.col("c_custkey")).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_csv_roundtrip_preserves_nulls(spark, tmp_path):
    from pyspark.sql import types as T

    dest = str(tmp_path / "csv_out")
    df = spark.createDataFrame(
        [("a", None, 1.5), (None, "y", None)], "s1 string, s2 string, d double"
    )
    df.write.mode("overwrite").option("header", True).csv(dest)
    schema = T.StructType(
        [
            T.StructField("s1", T.StringType()),
            T.StructField("s2", T.StringType()),
            T.StructField("d", T.DoubleType()),
        ]
    )
    back = read_csv_projected(spark, dest, ["s1", "s2", "d"], schema)
    rows = {tuple(r) for r in back.collect()}
    assert rows == {("a", None, 1.5), (None, "y", None)}  # empty cell -> NULL


def _assert_header_parity(spark, path):
    """The driver header read names and reads the same as Spark's inference."""
    from airflow_cms_inpatient_etl_spark.sources.files import read_csv_header, read_csv_strings

    inferred = spark.read.csv(path, header=True)
    assert read_csv_header(spark, path) == inferred.columns
    ours = read_csv_strings(spark, path)
    assert ours.columns == inferred.columns
    assert sorted(map(tuple, ours.collect()), key=repr) == sorted(
        map(tuple, inferred.collect()), key=repr
    )
    return ours.columns


def test_csv_header_read_matches_spark_inference(spark, tmp_path):
    import gzip

    spark_written = str(tmp_path / "csv_out")  # part files, _SUCCESS, .crc
    spark.createDataFrame(
        [("a", None, 1.5), (None, "y", None)], "s1 string, s2 string, d double"
    ).write.mode("overwrite").option("header", True).csv(spark_written)
    assert _assert_header_parity(spark, spark_written) == ["s1", "s2", "d"]

    quoted = tmp_path / "quoted.csv"
    quoted.write_text('"A,1","B x",C\n1,"2,5",3\n')
    assert _assert_header_parity(spark, str(quoted)) == ["A,1", "B x", "C"]

    gz = tmp_path / "claims.csv.gz"
    with gzip.open(gz, "wt") as fh:
        fh.write("\nID,AMT\nP1,10\nP2,\n")  # leading blank line: skipped, as by Spark
    assert _assert_header_parity(spark, str(gz)) == ["ID", "AMT"]

    odd = tmp_path / "odd.csv"
    odd.write_text("A,,a,B,A\n1,2,3,4,5\n")
    assert _assert_header_parity(spark, str(odd)) == ["A0", "_c1", "a2", "B", "A4"]


def test_json_roundtrip_with_schema(spark, tmp_path):
    from pyspark.sql import types as T

    dest = str(tmp_path / "json_out")
    e = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    e.write.mode("overwrite").json(dest)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = read_json(spark, dest, schema)
    assert back.count() == e.count()
    assert dict(back.dtypes) == {"event_id": "bigint", "event_type": "string", "value": "double"}


def test_orc_roundtrip(spark, tmp_path):
    dest = str(tmp_path / "orc_out")
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    li.write.mode("overwrite").orc(dest)
    back = spark.read.orc(dest)
    assert back.count() == li.count()
    assert dict(back.dtypes) == dict(li.dtypes)
    # predicate pushdown reaches the ORC scan too
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = (
        back.filter(F.col("l_returnflag") == "A")._jdf.queryExecution().explainString(mode)
    )
    assert "PushedFilters" in plan


def test_jdbc_reader_requires_bounds_for_partitioning(spark):
    with pytest.raises(ValueError, match="lower_bound"):
        jdbc_reader(spark, "jdbc:postgresql://db/x", "t", partition_column="id")


def test_jdbc_reader_builds_partitioned_plan_options(spark):
    reader = jdbc_reader(
        spark,
        "jdbc:postgresql://db/x",
        "claims",
        partition_column="id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=32,
    )
    assert reader is not None  # options accepted; .load() needs a driver jar


def test_range_partitioned_sorted_write_nonoverlapping_files(spark, tmp_path):
    """The sorted-write layout for scan pruning: repartitionByRange +
    sortWithinPartitions produces parquet files whose [min, max] key ranges
    do not overlap, so a point/range predicate prunes whole files (and,
    within them, row groups) via footer statistics at 100 TB."""
    import glob

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    out = str(tmp_path / "range_sorted")
    (
        li.repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.parquet(out)
    )
    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        pdf = spark.read.parquet(f).agg(
            F.min("l_shipdate"), F.max("l_shipdate"), F.count(F.lit(1))
        ).collect()[0]
        if pdf[2]:
            ranges.append((pdf[0], pdf[1]))
    assert len(ranges) >= 3
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"file ranges overlap: {hi1} > {lo2}"


def test_zorder_write_skips_on_every_dimension(spark, tmp_path):
    """Z-order layout: after clustering orders on (o_custkey, o_totalprice),
    a point-range predicate on EITHER column excludes most files by footer
    min-max alone — whereas a single-column sort only prunes its own column
    (the other column's per-file ranges span the full domain, 0 skipped)."""
    import pyarrow.parquet as pq

    from airflow_cms_inpatient_etl_spark.operators.layout import write_zordered
    from airflow_cms_inpatient_etl_spark.sources.registry import load_table

    orders = load_table(spark, "/root/testdata/sf0.01", "orders")
    zdir = str(tmp_path / "z")
    write_zordered(orders, zdir, ["o_custkey", "o_totalprice"], n_files=8)
    ldir = str(tmp_path / "linear")
    (
        orders.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def file_ranges(d, col):
        out = []
        for p in os.listdir(d):
            if not p.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, p)).metadata
            idx = md.schema.names.index(col)
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                los.append(st.min)
                his.append(st.max)
            out.append((min(los), max(his)))
        return out

    def n_skipped(ranges, lo, hi):
        return sum(1 for flo, fhi in ranges if fhi < lo or flo > hi)

    lo_ck, hi_ck = 100, 120            # narrow o_custkey probe
    lo_tp, hi_tp = 50_000.0, 60_000.0  # narrow o_totalprice probe

    z_ck = n_skipped(file_ranges(zdir, "o_custkey"), lo_ck, hi_ck)
    z_tp = n_skipped(file_ranges(zdir, "o_totalprice"), lo_tp, hi_tp)
    l_ck = n_skipped(file_ranges(ldir, "o_custkey"), lo_ck, hi_ck)
    l_tp = n_skipped(file_ranges(ldir, "o_totalprice"), lo_tp, hi_tp)

    assert l_ck >= 6      # its own sort column prunes well
    assert l_tp == 0      # ...but the other dimension prunes NOTHING
    assert z_ck >= 3 and z_tp >= 3  # z-order prunes on BOTH dimensions


def test_compact_small_files_preserves_data_and_hits_target(spark, tmp_path):
    """64 tiny files -> a handful sized by actual on-disk bytes; contents
    identical; optional within-file clustering applied."""
    import glob

    from airflow_cms_inpatient_etl_spark.operators.layout import compact_small_files

    path = str(tmp_path / "orders_small")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.repartition(64).write.parquet(path)
    n_small = len(glob.glob(f"{path}/part-*.parquet"))
    assert n_small == 64
    before = orders.count()
    bytes_total = sum(
        __import__("os").path.getsize(p) for p in glob.glob(f"{path}/part-*.parquet")
    )

    n_out = compact_small_files(spark, path, target_file_bytes=bytes_total // 3 + 1)
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == n_out <= 4  # ceil(total/target) = 3, +1 slack for overhead
    assert spark.read.parquet(path).count() == before

    # clustered variant: each output file's o_orderkey range is tight
    n_out = compact_small_files(
        spark, path, target_file_bytes=bytes_total // 3 + 1, sort_within_by=["o_orderkey"]
    )
    import pyarrow.parquet as pq

    ranges = []
    for p in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(p).metadata
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index("o_orderkey")
        rg = md.row_group(0).column(idx).statistics
        ranges.append((rg.min, rg.max))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges across files -> skippable scans


def test_compact_leaves_no_staging_dirs_and_survives_swap(spark, tmp_path):
    """Round-3 advice (low): the compaction swap renames the live dir aside
    before publishing, so data always exists at `path` or `path__old`; after
    success neither staging dir remains."""
    import glob
    import os

    from airflow_cms_inpatient_etl_spark.operators.layout import compact_small_files

    path = str(tmp_path / "t")
    spark.range(1000).repartition(8).write.parquet(path)
    before = spark.read.parquet(path).count()
    compact_small_files(spark, path, target_file_bytes=10**9)
    assert spark.read.parquet(path).count() == before
    assert not os.path.exists(path + "__compact_tmp")
    assert not os.path.exists(path + "__compact_old")
    assert len(glob.glob(f"{path}/part-*.parquet")) == 1


def test_avro_roundtrip_or_gated(spark, tmp_path):
    """Avro is an external Spark module; on classpaths that carry it the
    roundtrip must be lossless; elsewhere the gate must raise the actionable
    NotImplementedError carrying the --packages remediation (never a raw JVM
    ClassNotFound), and the test SKIPS VISIBLY so a never-executed roundtrip
    shows up as `s` in every report instead of silently passing via the gate
    branch.  (This sandbox has the avro-core jars but not the spark-avro
    DataSource provider, and no network/pypi to vendor it — the skip reason
    records exactly that.)"""
    from airflow_cms_inpatient_etl_spark.sources.files import (
        avro_available,
        read_avro,
        write_avro,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    if avro_available(spark):
        write_avro(df, str(tmp_path / "avro_t"))
        got = read_avro(spark, str(tmp_path / "avro_t"))
        assert sorted(r["id"] for r in got.collect()) == [1, 2]
    else:
        import pytest

        with pytest.raises(NotImplementedError) as exc:
            write_avro(df, str(tmp_path / "avro_t"))
        assert "--packages org.apache.spark:spark-avro" in str(exc.value), (
            "gate lost its remediation text"
        )
        with pytest.raises(NotImplementedError):
            read_avro(spark, str(tmp_path / "avro_t"))
        pytest.skip(
            "spark-avro DataSource not on classpath (no network to vendor it): "
            "gate + remediation asserted, roundtrip NOT executed"
        )


def test_parquet_codec_roundtrip(spark, tmp_path):
    """Compression is a per-write choice that must not leak into semantics:
    zstd/snappy/gzip outputs all read back row-identical."""
    df = spark.range(1000).selectExpr("id", "CAST(id * 2.5 AS DOUBLE) AS v", "CAST(id AS STRING) AS s")
    expect = [(r["id"], r["v"], r["s"]) for r in df.collect()]
    for codec in ("zstd", "snappy", "gzip"):
        path = str(tmp_path / f"codec_{codec}")
        df.write.mode("overwrite").option("compression", codec).parquet(path)
        got = sorted(
            (r["id"], r["v"], r["s"]) for r in spark.read.parquet(path).collect()
        )
        assert got == sorted(expect), codec


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema evolution across partition writes: an added column surfaces
    under mergeSchema with NULLs for pre-evolution files, and the default
    (non-merged) read still succeeds on the first file's schema."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(f"{p}/batch=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, s string, score double"
    ).write.parquet(f"{p}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    rows = {r["id"]: r for r in merged.collect()}
    assert "score" in merged.columns
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_lakehouse_roundtrip_or_gated(spark, tmp_path):
    """Delta/Iceberg are external connectors; on classpaths that carry them
    the roundtrip must be lossless; elsewhere the gate must raise the
    actionable NotImplementedError carrying the --packages remediation
    (never a raw JVM ClassNotFound), and the test SKIPS VISIBLY so a
    never-executed roundtrip shows up as `s` in every report.  (This
    sandbox has neither connector jar and no network/pypi to vendor one —
    the skip reason records exactly that.)"""
    from airflow_cms_inpatient_etl_spark.sources.files import (
        lakehouse_format_available,
        read_lakehouse,
        write_lakehouse,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    ran = []
    for fmt, pkg in (("delta", "io.delta:delta-spark"), ("iceberg", "org.apache.iceberg:iceberg-spark-runtime")):
        if lakehouse_format_available(spark, fmt):
            write_lakehouse(df, fmt, str(tmp_path / fmt))
            got = read_lakehouse(spark, fmt, str(tmp_path / fmt))
            assert sorted(r["id"] for r in got.collect()) == [1, 2]
            ran.append(fmt)
        else:
            import pytest

            with pytest.raises(NotImplementedError) as exc:
                write_lakehouse(df, fmt, str(tmp_path / fmt))
            assert f"--packages {pkg}" in str(exc.value), "gate lost its remediation text"
            with pytest.raises(NotImplementedError):
                read_lakehouse(spark, fmt, str(tmp_path / fmt))
    if not ran:
        import pytest

        pytest.skip(
            "no lakehouse connector (delta/iceberg) on classpath (no network "
            "to vendor one): gates + remediation asserted, roundtrips NOT executed"
        )
