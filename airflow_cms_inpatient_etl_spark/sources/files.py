"""File sources: validated CSV scan with COPY-csv null semantics, parquet, json.

Reference behavior being re-expressed:

* CSV scan with header + fixed projection, hard-failing when an expected column
  is missing from the header (``/root/reference/dags/patient_claims_plus_postgres.py:40-44``).
* Missing/empty cells load as NULL — the reference writes ``""`` for absent cells
  (``:51``) and streams through ``COPY ... FORMAT csv`` (``:55-57``), where
  unquoted empty fields become NULL.  Spark's csv reader with the default
  ``nullValue=""`` matches exactly (SURVEY.md §1.3).
* Text→typed cast at load (``:84,:98-99,:102``): done here by reading everything
  as string and casting to the declared schema, so cast failures surface as NULL
  exactly like Postgres COPY would error-or-null per type.

Unlike the reference's loader — which materializes the entire projected file in
driver memory via ``StringIO`` (``:46-53``) — these are distributed scans: at
100 TB the CSV splits across executors and the projection/cast runs codegen'd
per partition.
"""

from __future__ import annotations

import csv
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_cms_inpatient_etl_spark.session import jvm_class, scoped_conf


class MissingColumnsError(ValueError):
    """Raised when the CSV header lacks required columns (reference :42-44)."""


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` under the session's Hadoop conf."""
    jpath = jvm_class(spark, "org.apache.hadoop.fs.Path")(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def read_csv_header(spark: SparkSession, path: str) -> list[str]:
    """The column names ``spark.read.csv(path, header=True)`` infers, read on
    the driver through the Hadoop FileSystem: no Spark job.

    Like Spark's inference, the header is the first non-blank line of the
    largest visible file (Spark packs splits largest first and takes the
    first line; names starting with ``_`` or ``.`` such as ``_SUCCESS`` and
    ``.crc`` files are skipped, and compressed files such as ``.csv.gz`` are
    opened through their Hadoop codec).  Empty names become ``_c<i>`` and
    duplicate names get their index appended (Spark's
    ``CSVUtils.makeSafeHeader``).  Files are listed one directory level
    deep; no visible line gives no columns."""
    fs, pattern = hadoop_fs(spark, path)
    files = []
    for st in fs.globStatus(pattern) or []:
        for f in fs.listStatus(st.getPath()) if st.isDirectory() else [st]:
            if f.isFile() and not f.getPath().getName().startswith(("_", ".")):
                files.append(f)
    codecs = jvm_class(spark, "org.apache.hadoop.io.compress.CompressionCodecFactory")(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    for f in sorted(files, key=lambda f: -f.getLen()):
        stream = fs.open(f.getPath())
        codec = codecs.getCodec(f.getPath())
        if codec is not None:
            stream = codec.createInputStream(stream)
        reader = jvm_class(spark, "java.io.BufferedReader")(
            jvm_class(spark, "java.io.InputStreamReader")(stream, "UTF-8")
        )
        try:
            line = reader.readLine()
            while line is not None and not line.strip(_JAVA_TRIM):
                line = reader.readLine()
        finally:
            reader.close()
        if line is not None:
            names = next(csv.reader([line], escapechar="\\"))
            case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
            return _safe_header(names, case_sensitive)
    return []


_JAVA_TRIM = "".join(map(chr, range(0x21)))  # what java.lang.String.trim strips


def _safe_header(names: list[str], case_sensitive: bool) -> list[str]:
    key = (lambda n: n) if case_sensitive else str.lower
    counts = Counter(key(n) for n in names if n)
    return [
        f"_c{i}" if not n else f"{n}{i}" if counts[key(n)] > 1 else n
        for i, n in enumerate(names)
    ]


def read_csv_strings(spark: SparkSession, path: str, names: list[str] | None = None) -> DataFrame:
    """``spark.read.csv(path, header=True)`` without its inference job: the
    header (``names`` when the caller has read it already) is read on the
    driver and the scan declares it as an all-string schema (Spark drops each
    file's header line, as with inference).

    One reader chain: ``load`` takes the path as is, where ``csv`` converts
    it to a JVM list first.  The schema goes over as a ``StructType`` (JSON);
    a DDL string goes through the SQL parser, which is slower and leaves its
    parser state on the JVM heap."""
    if names is None:
        names = read_csv_header(spark, path)
    schema = T.StructType([T.StructField(c, T.StringType()) for c in names])
    return spark.read.format("csv").schema(schema).option("header", True).load(path)


def read_csv_projected(
    spark: SparkSession,
    path: str,
    keep_cols: list[str],
    schema: T.StructType,
) -> DataFrame:
    """Header-validated, projected, typed CSV scan.

    ``keep_cols`` are the (possibly uppercase) source header names; ``schema``
    declares the lowercase target names and types positionally aligned with
    ``keep_cols``.  The header check reads one file header on the driver —
    O(1), no Spark job — not the data, and runs before the scan is declared.
    """
    names = read_csv_header(spark, path)
    have = {c.lower() for c in names}
    missing = [c for c in keep_cols if c.lower() not in have]
    if missing:
        raise MissingColumnsError(f"CSV {path} missing expected columns: {missing}")
    # one SQL-string projection: a py4j call per column instead of three
    # (col/cast/alias), tens of milliseconds of driver time per load
    return read_csv_strings(spark, path, names).selectExpr(
        *[
            f"CAST({quoted(src)} AS {field.dataType.simpleString()}) AS {quoted(field.name)}"
            for src, field in zip(keep_cols, schema.fields)
        ]
    )


def quoted(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)  # no inference in prod paths
    return reader.json(path)


def write_table(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Idempotent materialization — the engine's CREATE TABLE AS SELECT
    (reference CTAS at ``patient_claims_plus_postgres.py:161`` + drop-if-exists
    ``:63-68``; ``mode("overwrite")`` subsumes both)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


# Staged commit: a table is written next to its path and swapped in by
# rename.  Approval is a rename too, so no marker file is written:
#
#   write_table_staged   df          -> <path>.next   (unchecked; the
#                                                      committer's _SUCCESS off)
#   commit_staged        <path>.next -> <path>.ready  (approved, after the
#                                                      caller's checks)
#                        delete <path>, <path>.ready -> <path>
#
# A crash before the approval leaves a ``.next`` that is never promoted and
# is overwritten by the next stage.  A crash after it leaves a ``.ready``,
# next to ``<path>`` or in its place, that ``promote_staged`` finishes; both
# callers (the CMS DAG's publish and ``stream_upsert_to_parquet``) promote
# before they stage, so a commit never finds a ``.ready`` in its way (a
# rename onto an existing dir would move the stage inside it).
STAGED_SUFFIX = ".next"
READY_SUFFIX = ".ready"
_UNMARKED = {"mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}


def promote_staged(spark: SparkSession, path: str) -> None:
    """Finish an interrupted swap: when ``path``'s approved dir exists,
    replace ``path`` with it (``path`` may or may not still exist)."""
    fs, target = hadoop_fs(spark, path)
    _swap_ready(fs, target)


def write_table_staged(df: DataFrame, path: str) -> None:
    """``write_table`` into ``path``'s staged dir, unchecked until
    ``commit_staged`` approves it.  The committer's ``_SUCCESS`` stays off:
    it approves nothing, and without Hadoop's native IO the local file
    system forks a ``chmod`` for the marker and for its ``.crc``."""
    with scoped_conf(df.sparkSession, _UNMARKED):
        write_table(df, path + STAGED_SUFFIX)


def commit_staged(spark: SparkSession, path: str) -> None:
    """Approve the staged dir (rename it to ``.ready``), then swap it in."""
    fs, target = hadoop_fs(spark, path)
    _rename(fs, target.suffix(STAGED_SUFFIX), target.suffix(READY_SUFFIX))
    _swap_ready(fs, target)


def discard_staged(spark: SparkSession, path: str) -> None:
    fs, target = hadoop_fs(spark, path)
    fs.delete(target.suffix(STAGED_SUFFIX), True)


def _swap_ready(fs, target) -> None:
    ready = target.suffix(READY_SUFFIX)
    if fs.exists(ready):
        fs.delete(target, True)
        _rename(fs, ready, target)


def _rename(fs, src, dst) -> None:
    """Hadoop ``rename`` reports failure by returning False; raise instead."""
    if not fs.rename(src, dst):
        raise OSError(f"could not rename {src} to {dst}")


_DATA_SOURCE = "org.apache.spark.sql.execution.datasources.DataSource"


def avro_available(spark: SparkSession) -> bool:
    """The avro format ships as an EXTERNAL module (org.apache.spark:spark-avro),
    deliberately not bundled with Spark core — availability depends on the
    deployment's classpath, so the engine probes instead of assuming."""
    try:
        # the authoritative resolution Spark itself performs for format("avro");
        # a bare Class.forName probe false-positives because catalyst bundles
        # some avro helper classes without the DataSource provider
        jvm_class(spark, _DATA_SOURCE).lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro scan (row-oriented interchange format — the common Kafka/ingest
    landing format).  Raises a clear error when the spark-avro module is not
    on the classpath rather than an opaque ClassNotFound from the JVM."""
    if not avro_available(spark):
        raise NotImplementedError(
            "spark-avro is not on this deployment's classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    return spark.read.format("avro").load(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    if not avro_available(df.sparkSession):
        raise NotImplementedError(
            "spark-avro is not on this deployment's classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
        )
    df.write.mode(mode).format("avro").save(path)


def lakehouse_format_available(spark: SparkSession, fmt: str) -> bool:
    """Probe for a lakehouse table format connector (``delta`` / ``iceberg``).

    Both ship as external connectors (io.delta:delta-spark /
    org.apache.iceberg:iceberg-spark-runtime) — availability depends on the
    deployment's classpath, so the engine probes with the same authoritative
    resolution Spark performs for ``format(fmt)`` (see ``avro_available``).
    """
    try:
        jvm_class(spark, _DATA_SOURCE).lookupDataSource(
            fmt, spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


_LAKEHOUSE_REMEDIATION = {
    "delta": (
        "Delta Lake is not on this deployment's classpath; submit with "
        "--packages io.delta:delta-spark_2.13:<version> and "
        "--conf spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension "
        "--conf spark.sql.catalog.spark_catalog="
        "org.apache.spark.sql.delta.catalog.DeltaCatalog"
    ),
    "iceberg": (
        "Apache Iceberg is not on this deployment's classpath; submit with "
        "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version> "
        "and configure an Iceberg catalog "
        "(--conf spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog)"
    ),
}


def read_lakehouse(spark: SparkSession, fmt: str, path: str) -> DataFrame:
    """Lakehouse table scan (Delta/Iceberg) — the transaction-logged table
    layer the CDC/upsert/SCD2 operators (``operators/upsert.py``) target in
    a production deployment, where their MERGE-equivalent joins become the
    connector's native ``MERGE INTO`` against the table log.  Gated like
    Avro: a clear actionable error when the connector is absent, never a raw
    JVM ClassNotFound."""
    if not lakehouse_format_available(spark, fmt):
        raise NotImplementedError(_LAKEHOUSE_REMEDIATION[fmt])
    return spark.read.format(fmt).load(path)


def write_lakehouse(df: DataFrame, fmt: str, path: str, mode: str = "overwrite") -> None:
    if not lakehouse_format_available(df.sparkSession, fmt):
        raise NotImplementedError(_LAKEHOUSE_REMEDIATION[fmt])
    df.write.mode(mode).format(fmt).save(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row") -> DataFrame:
    """Native XML scan (built into Spark 4 — SPARK-44751): the classic
    enterprise-landing format.  Schema is inferred unless the caller supplies
    one via .schema() upstream; rowTag selects the repeating element."""
    return spark.read.format("xml").option("rowTag", row_tag).load(path)


def write_xml(
    df: DataFrame, path: str, mode: str = "overwrite", row_tag: str = "row", root_tag: str = "rows"
) -> None:
    df.write.mode(mode).format("xml").option("rowTag", row_tag).option(
        "rootTag", root_tag
    ).save(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Whole-line text scan (`value: string` per line) — the raw-corpus
    landing shape before any parsing; pairs with the textops tokenizers."""
    return spark.read.format("text").load(path)
