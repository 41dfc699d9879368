"""Write-time data layout for scan pruning: Z-order (Morton) and Hilbert
clustering keys, and exact-boundary range shards.

At 100 TB the cheapest query is the one that never reads the file: engines
skip parquet files/row-groups whose footer min-max ranges exclude the
predicate.  A single-column sort makes ONE column's ranges tight and leaves
every other column's ranges spanning the whole domain; interleaving the bits
of several columns (Z-order) makes EVERY participating column's per-file
range narrow, so point/range predicates on any of them skip most files.

Shape: one tiny min/max aggregate per column (driver scalars, embedded as
plan literals) → equi-width quantization to ``2^bits`` buckets per column
(``width_bucket``, JVM-side) → bit interleave → ``repartitionByRange`` +
within-partition sort on the Z key.  The Z column is dropped before write;
only the layout survives.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Morton key interleaving ``bits`` quantized bits of each column.

    Quantization is equi-width over the observed [min, max] (one scalar
    aggregate; at scale use table-level stats instead).  Works for any
    numeric/castable-to-double columns; NULLs land in bucket 0.
    """
    n_buckets = 2**bits
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in cols],
    ).first()
    quantized = []
    for c in cols:
        lo, hi = stats[f"lo_{c}"], stats[f"hi_{c}"]
        if lo is None or hi is None or lo == hi:
            quantized.append(F.lit(0).cast("bigint"))
            continue
        q = F.width_bucket(
            F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(n_buckets)
        ) - F.lit(1)
        quantized.append(
            F.coalesce(
                F.least(F.greatest(q, F.lit(0)), F.lit(n_buckets - 1)), F.lit(0)
            ).cast("bigint")
        )
    k = len(cols)
    terms = [
        (F.shiftright(q, bit).bitwiseAND(F.lit(1)) * F.lit(1 << (bit * k + j))).cast("bigint")
        for bit in range(bits)
        for j, q in enumerate(quantized)
    ]
    return reduce(lambda a, b: a + b, terms).alias("zorder_key")


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 8, bits: int = 8
) -> None:
    """Write parquet clustered by the Z-order of ``cols``: range-partitioned
    and sorted on the Morton key so every listed column gets tight per-file
    min-max footer ranges (multi-dimensional file skipping)."""
    z = zorder_key(df, cols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Compact a parquet directory's small files toward ``target_file_bytes``
    per output file; returns the output file count.

    The small-files problem is the silent killer of streaming/incremental
    sinks at scale: a foreachBatch or per-ingest append writes O(partitions)
    files per batch, and a year of 5-minute batches turns every downstream
    scan into millions of opens (NameNode/S3 LIST pressure, one task per
    tiny file).  Periodic compaction is the standard fix (what Delta's
    OPTIMIZE does); this is the plain-parquet equivalent.

    File count comes from the directory's actual on-disk bytes (filesystem
    metadata, no data read), so the result lands near the parquet row-group /
    HDFS-block sweet spot regardless of row width.  The rewrite itself is one
    distributed pass: plain ``coalesce`` when shrinking (no shuffle) or a
    ``repartition`` when a sort/cluster is requested.  Write-audit-publish
    (stage to a temp dir, swap on success) would wrap this in production; the
    in-place overwrite here keeps the operator self-contained.
    """
    import math

    from py4j.java_gateway import java_import

    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    hadoop_path = jvm.Path(path)
    fs = hadoop_path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hadoop_path).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.parquet(path)
    if sort_within_by:
        out = df.repartition(n_files).sortWithinPartitions(*sort_within_by)
    else:
        out = df.coalesce(n_files)
    # parquet overwrite would truncate its own input mid-read; stage then swap.
    # Swap order is crash-safe: the live table is renamed ASIDE (not deleted)
    # before the compacted dir takes its place, so at every intermediate point
    # a full copy of the data exists under either `path` or `path__old` — a
    # crash never leaves only the tmp dir.  The aside copy is deleted last.
    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    out.write.mode("overwrite").parquet(tmp)
    if fs.exists(jvm.Path(old)):
        fs.delete(jvm.Path(old), True)  # leftover from a previous crash
    if not fs.rename(hadoop_path, jvm.Path(old)):
        raise IOError(f"compaction aside-rename failed: {path} -> {old}")
    if not fs.rename(jvm.Path(tmp), hadoop_path):
        # roll back so the table stays live at its original path
        fs.rename(jvm.Path(old), hadoop_path)
        raise IOError(f"compaction rename failed: {tmp} -> {path}")
    fs.delete(jvm.Path(old), True)
    return n_files


def zorder_key_int(
    quantized: list[Column], bits: int = 8, alias: str = "zorder_key"
) -> Column:
    """Morton key over ALREADY-QUANTIZED integer bucket columns (each in
    [0, 2^bits)).  Pure integer bit arithmetic — unlike ``zorder_key`` there
    is no double quantization and no driver scalar collect, so the result is
    engine-portable (an oracle can reproduce it with `>>`/`&`/`*` exactly)
    and the expression composes into a fully declarative plan."""
    k = len(quantized)
    terms = [
        (F.shiftright(q, bit).bitwiseAND(F.lit(1)) * F.lit(1 << (bit * k + j))).cast(
            "bigint"
        )
        for bit in range(bits)
        for j, q in enumerate(quantized)
    ]
    return reduce(lambda a, b: a + b, terms).alias(alias)


def equi_width_bucket_int(v: str, lo: str, hi: str, n_buckets: int) -> Column:
    """Equi-width quantization of an integer column into [0, n_buckets) with
    BIGINT arithmetic only: ((v - lo) * n) DIV (hi - lo + 1).  Args are SQL
    expression strings (the same text an oracle embeds), so both engines run
    byte-identical integer arithmetic.  For v in [lo, hi] the result is
    < n_buckets by construction — no clamp, no float rounding anywhere."""
    return F.expr(f"(({v} - {lo}) * {n_buckets}) DIV ({hi} - {lo} + 1)").cast("bigint")


def with_hilbert_key(df: DataFrame, qx_col: str, qy_col: str, bits: int = 8, out: str = "hkey") -> DataFrame:
    """Append the 2-D Hilbert-curve distance for quantized coordinates in
    [0, 2^bits)^2 — the classic xy2d recurrence (Hilbert 1891; the widely
    published iterative form, e.g. Wikipedia "Hilbert curve" / Hamilton's
    compact algorithm) unrolled to ``bits`` levels of pure integer Column
    arithmetic: at level s, rx/ry test one bit of each coordinate, the
    distance accumulates s^2 * gray(rx, ry) (gray = 3*rx + ry - 2*rx*ry,
    the arithmetic form of (3*rx) XOR ry for bits), and the frame
    reflects/swaps.  Unlike the Morton interleave, consecutive Hilbert
    keys are ALWAYS spatially adjacent (no quadrant jumps), which is why
    modern lakehouse clustering prefers it for multi-dimensional layout.

    Implementation note: each level is ONE projection (withColumns updates
    x/y/d simultaneously), so the logical plan stays linear in ``bits``;
    after Catalyst's projection collapse the expression tree is ~3^bits
    leaves — fine for the 8-bit grids file-layout uses (6.5k nodes), which
    is also why this is a DataFrame transformer rather than a single
    Column builder.  Zero shuffles, zero Python."""
    n = 1 << bits
    df = df.withColumns(
        {
            "_hx": F.col(qx_col).cast("long"),
            "_hy": F.col(qy_col).cast("long"),
            "_hd": F.lit(0).cast("long"),
        }
    )
    s = n // 2
    while s > 0:
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        df = df.withColumns(
            {
                "_hd": F.col("_hd") + F.lit(s * s) * (3 * rx + ry - 2 * rx * ry),
                "_hx": F.when(ry == 1, F.col("_hx"))
                .when(rx == 1, F.lit(n - 1) - F.col("_hy"))
                .otherwise(F.col("_hy")),
                "_hy": F.when(ry == 1, F.col("_hy"))
                .when(rx == 1, F.lit(n - 1) - F.col("_hx"))
                .otherwise(F.col("_hx")),
            }
        )
        s //= 2
    return df.withColumnRenamed("_hd", out).drop("_hx", "_hy")


def exact_range_shards(df: DataFrame, col: str, n_shards: int) -> DataFrame:
    """Append ``shard_id`` in [1, n_shards]: a size-balanced range shard of the
    integer column ``col`` with EXACT quantile boundaries — the deterministic
    version of ``repartitionByRange`` (Spark's RangePartitioner samples, so
    its boundaries move run to run; a shard manifest that moves breaks
    resumable training).

    Boundaries come from the value histogram (distinct values + counts —
    tiny next to the table), cumulated in value order: boundary_i = the min
    value whose cumulative count reaches ceil(i·n/n_shards).  The cumulative
    window is single-partition over |distinct values| rows, not the table.
    Every row then gets 1 + #(boundaries strictly below it) from one
    broadcast boundary row — a map-side pass, no global sort.  Integer
    arithmetic end to end, so an oracle reproduces it hash-exactly.  Fewer
    distinct values than shards leaves some shard ids empty; equal values
    always share a shard."""
    h = df.groupBy(F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("c"))
    n_total = h.agg(F.sum("c").alias("n"))
    running = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select("v", F.sum("c").over(running).alias("cum"))
    bounds = cum.crossJoin(F.broadcast(n_total)).agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({i} * n + {n_shards - 1}) div {n_shards}"),
                    F.col("v"),
                )
            ).alias(f"__b{i}")
            for i in range(1, n_shards)
        ]
    )
    shard = F.lit(1)
    for i in range(1, n_shards):
        shard = shard + F.when(F.col(col) > F.col(f"__b{i}"), 1).otherwise(0)
    return df.crossJoin(F.broadcast(bounds)).select(*df.columns, shard.alias("shard_id"))
