"""SparkSession factory with scale-aware defaults.

The reference runs everything in PostgreSQL (``/root/reference/docker-compose.yaml:78-79``);
this engine's equivalent of "the database" is a tuned SparkSession.  The defaults
here are what we would ship to a real cluster, modulo local-mode sizing:

* AQE on (runtime coalescing, skew-join splitting, dynamic join strategy) —
  at 100 TB the static plan is always wrong somewhere; AQE repairs it.
* ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster this is overridden per-job (or left to AQE's coalescing).
* Arrow enabled for any pandas interchange (vectorized batch transfer).
* Session timezone pinned to UTC so timestamp semantics are reproducible and
  match the DuckDB oracle used by the correctness harness.
"""

from __future__ import annotations

import os
import weakref
from contextlib import contextmanager

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "airflow-cms-inpatient-etl-spark"


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session for the body of a ``with`` block, then put
    every key back as it was — even when the body raises.  A key that was
    unset before is UNSET again rather than written back as its default, so
    the session's explicit conf map ends exactly as it started."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


_JVM_CLASSES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def jvm_class(spark: SparkSession, name: str) -> JavaClass:
    """The JVM class ``name`` (fully qualified), resolved once per py4j
    gateway.  A dotted walk such as ``_jvm.org.apache.hadoop.fs.Path`` costs
    one round trip per name part, most of them failed class lookups over the
    whole classpath (about 1 ms); the held handle costs none."""
    gateway = spark.sparkContext._gateway
    classes = _JVM_CLASSES.setdefault(gateway, {})
    if name not in classes:
        cls = getattr(spark.sparkContext._jvm, name)  # one lookup of the full name
        if not isinstance(cls, JavaClass):
            raise TypeError(f"{name} is not a class on the JVM's classpath")
        classes[name] = cls
    return classes[name]


def default_parallelism() -> int:
    """Local worker-thread count: honor the driver's SPARK_GRAFT_CPUS knob."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """Local-mode driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else half
    the machine's physical memory, capped at 20g.  In local mode the driver
    JVM runs every task, and a heap larger than the machine lets the JVM grow
    until the kernel kills it instead of collecting garbage."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(20 * 1024, physical // 2 // 2**20)}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` (or all
    cores).  On a real cluster, pass the cluster master / rely on spark-submit
    and these SQL confs still apply.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        # ---- shuffle & adaptivity -------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dims (region/nation/customer/supplier) stay broadcast-able well past sf0.1;
        # 64 MB keeps the beneficiary-style N:1 joins map-side at bench scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ---- scan sizing ----------------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # ---- python interchange ---------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ---- determinism / oracle parity -----------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Session-wide invariant: parquet TIMESTAMP(NANOS) columns (events.ts)
        # arrive as raw nanos bigint and are converted to µs timestamps by
        # sources/registry.load_table.  Deliberately NOT scoped per-read: lazy
        # plans capture the conf at execution, so a save/restore around the
        # read would break any not-yet-materialized events scan.  A session
        # that needs true-nanos semantics elsewhere must unset this.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ---- local-mode memory (single JVM; ignored under a real cluster manager) -
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketed writes) land under /tmp, not the repo
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
