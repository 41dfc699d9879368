"""Testdata table registry.

The driver testdata (TESTDATA.md) is a TPC-H-ish star schema plus ``events``
(stream-shaped), ``documents`` (text corpus) and ``embeddings`` (64-d float
vectors), one parquet file per table under ``/root/testdata/sf{0.001,0.01,0.1}``.

At 100 TB these would be partitioned/bucketed tables in a metastore; locally we
read single parquet files.  All scans go through ``load_table`` so predicate
pushdown / column pruning behavior is uniform and testable in one place.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (columnar parquet scan; Catalyst prunes/pushes).

    ``events.ts`` arrives in one of two encodings (``normalize_events_ts``);
    the ns one needs the legacy ``nanosAsLong`` conf, which Spark otherwise
    rejects (PARQUET_TYPE_ILLEGAL).  The conf is set at scan time so the fix
    works under any caller's session, and deliberately never restored: lazy
    plans capture SQL confs at execution time, so a save/restore around the
    read would break any not-yet-materialized events scan.  The tuned factory
    (session.get_spark) sets the same conf up front and documents it as a
    session-wide invariant; a session that needs true-nanos parquet semantics
    elsewhere must unset it.
    """
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}; expected one of {TESTDATA_TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(path))
    return _normalize_ntz(spark.read.parquet(path))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The events-timestamp rule, shared by batch reads (``load_table``) and
    streams (``streaming.jobs.stream_events``): ``ts`` becomes a µs TIMESTAMP.

    The testdata (TESTDATA.md) stores ``ts`` as TIMESTAMP(MICROS) without a zone
    (read as TIMESTAMP_NTZ); the perfbench generator stores TIMESTAMP(NANOS),
    read as raw-nanos bigint under ``nanosAsLong`` and converted here —
    lossless, since both emit whole microseconds, and identical to what
    DuckDB sees."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return _normalize_ntz(df)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-tz TIMESTAMP.

    The engine standardizes on TIMESTAMP_LTZ with the session timezone pinned
    to UTC (session.py), under which this cast is wall-clock-preserving and
    matches DuckDB's naive-timestamp arithmetic — and functions like
    ``unix_micros`` that require LTZ keep working whichever encoding a table
    was written with."""
    from pyspark.sql import functions as F

    for cname, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(cname, F.col(cname).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for the SQL surface)."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Logical-plan node names ALLOWED between the scan and spread_scan's probe —
# nodes that never introduce an exchange or a subquery.  Under AQE (on in the
# tuned session) ``df.rdd`` on a plan WITH an exchange/subquery FINALIZES the
# adaptive plan — executing every upstream shuffle query stage as real jobs at
# plan-build time — so spread_scan accepts only these and refuses everything
# else (an allowlist: a future exchange-introducing node is rejected by
# default instead of silently admitted, the round-10 ADVICE hazard).
_SCAN_SHAPED_NODES = frozenset(
    {
        # scans (v1 LogicalRelation renders as "Relation", DSv2 as "RelationV2")
        "Relation",
        "RelationV2",
        "LogicalRelation",
        "LocalRelation",
        "OneRowRelation",
        "Range",
        "LogicalRDD",
        # exchange-free row-local transforms
        "Project",
        "Filter",
        "Generate",
        # resolution wrappers the optimizer usually (but not contractually)
        # removes — exchange-free either way
        "SubqueryAlias",
        "View",
    }
)


def _assert_scan_shaped(df: DataFrame) -> None:
    """Raise unless ``df`` is scan-shaped (scan + project/filter/generate only).

    Walks the OPTIMIZED LOGICAL plan tree by node name — pure analysis, never
    a job, and immune to column/literal names that happen to contain words
    like 'Sort' or 'Join' (the substring false-positive the round-10 ADVICE
    flagged).  A scan-shaped plan has no exchange and no subquery, so AQE does
    not wrap it (``AdaptiveSparkPlanExec`` applies only to plans with
    exchanges or subqueries unless forceApply is set) and ``df.rdd`` below
    stays job-free.  Expression-level subqueries (scalar/exists/in) don't
    appear as children, so ``QueryPlan.subqueries()`` is checked per node.
    """
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name not in _SCAN_SHAPED_NODES:
            raise ValueError(
                f"spread_scan requires a scan-shaped input (scan + project/"
                f"filter only); found {name!r} in the plan. Under AQE, probing "
                f"partition counts downstream of an exchange executes the "
                f"upstream stages at plan-build time. Apply spread_scan to "
                f"the scan BEFORE joins/aggregates, or repartition explicitly."
            )
        subqueries = node.subqueries()
        if subqueries.nonEmpty():
            raise ValueError(
                f"spread_scan requires a subquery-free input; node {name!r} "
                f"carries an expression subquery, which makes AQE wrap the "
                f"plan and turns the partition probe into real jobs."
            )
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def spread_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition a SMALL-PARALLELISM scan by ``key_col`` so expensive
    map-side work (per-token md5 pipelines, HOF gram hashing) uses every
    core — and do NOTHING when the scan is already parallel.

    Why: a single parquet file with one row group cannot be split by
    ``maxPartitionBytes``, so locally the whole pre-shuffle map stage runs
    on ONE task no matter how wide the session is (measured 1.9× on the
    span-dedup gram pipeline at sf0.1 under local[32]).  At 100 TB the scan
    has thousands of splits, the condition is false, and this helper adds
    NO exchange — the guard is what makes it safe to leave in production
    plans.  Hash partitioning on the row key (not round-robin) avoids the
    sort-before-repartition pass and keeps rows co-located by the key the
    downstream rebuild groups on.

    PRECONDITION (asserted): ``df`` must be scan-shaped — no join/aggregate/
    sort/window/subquery upstream.  On such plans ``df.rdd`` is analysis-only;
    downstream of an exchange it would finalize the AQE plan and execute the
    upstream stages as real jobs, so that shape is rejected loudly instead.
    """
    _assert_scan_shaped(df)
    spark = df.sparkSession
    target = min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    if df.rdd.getNumPartitions() >= target:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(key_col))


# --------------------------------------------------------------------------- #
# Tracked multi-consumer snapshots                                             #
# --------------------------------------------------------------------------- #
# Several queries materialize an expensive intermediate exactly once for 2-5
# downstream consumers (LSH posting lists, band tables, per-doc score tables).
# This registry is the engine's ONLY way to pin data.  Neither Spark storage
# primitive self-releases in a long-lived PySpark session:
#   - persist/cache pins a CacheManager entry keyed by logical plan with no
#     release hook in a lazily-returned function — AND silently serves
#     REPEATED invocations of the same query from the warm cache (measured:
#     it faked the round-8 bench number for the pHash query).  The engine
#     never uses it.
#   - ``localCheckpoint`` avoids the plan-keyed reuse, but its blocks are
#     in practice never freed from Python either: the JVM-side RDD stays
#     strongly reachable through the Py4J gateway bindings, so the
#     ContextCleaner's weak references never fire (measured: blocks survive
#     del + gc.collect() + System.gc()).
# So snapshots must be RELEASED EXPLICITLY.  ``snapshot`` wraps a lazy
# localCheckpoint and records the pinned RDD ids; ``release_snapshots`` frees
# them.  Long-lived callers (bench loops, REPL sessions, services) call
# ``release_snapshots(spark)`` once the results of a query have been fully
# consumed; short-lived jobs may skip it (executor storage dies with the
# session).  Scoped callers — anything with overlapping query lifetimes —
# take the id handle from ``tracked_localcheckpoint`` and release ONLY those
# ids via ``release_snapshots(spark, ids=...)`` so a still-unconsumed
# concurrent result's blocks are never yanked from under it (a released
# localCheckpoint cannot be recomputed: its lineage is truncated).  The
# registry is keyed per SparkContext (ids from one context are invisible to
# and unreleasable through another) and lock-guarded for threaded drivers.
# Iterative operators (operators/graph.py, kmeans_fit, bpe_train) use the id
# handles to free round r-1 as soon as round r is materialized.

_SNAPSHOT_LOCK = threading.Lock()
_SNAPSHOT_RDD_IDS: dict[str, set[int]] = {}  # SparkContext applicationId -> ids


def tracked_localcheckpoint(df: DataFrame, eager: bool) -> tuple[DataFrame, frozenset]:
    """``localCheckpoint`` plus the ids of the persistent RDDs it pinned,
    all registered with this SparkContext's release registry.

    The shared primitive behind ``snapshot`` (lazy, query-level) and the
    iterative graph operators' per-round snapshots (eager, with the ids
    also used for immediate intra-loop frees).  ``RDD.localCheckpoint``
    marks persistence at call time, so the pinned ids are visible via
    ``getPersistentRDDs`` without waiting for a job.  The returned id set
    doubles as a RELEASE HANDLE: pass it to ``release_snapshots(spark,
    ids=...)`` to free only this snapshot.

    The lock covers the before/after ``getPersistentRDDs`` diff so id
    attribution is exact under threaded drivers; the cost is that EAGER
    checkpoints (which run a job at call time) serialize across threads —
    the right trade for a registry whose release is destructive.
    """
    sc = df.sparkSession.sparkContext
    jsc = sc._jsc
    with _SNAPSHOT_LOCK:
        before = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
        out = df.localCheckpoint(eager=eager)
        after = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
        ids = frozenset(after - before)
        _SNAPSHOT_RDD_IDS.setdefault(sc.applicationId, set()).update(ids)
    return out, ids


def snapshot(df: DataFrame) -> DataFrame:
    """Lazy-action localCheckpoint whose pinned RDD ids are tracked for
    release.

    ``eager=False`` defers the final materialization to the first action —
    every later consumer then reads the stored blocks instead of
    recomputing the subtree.  NOTE: under AQE (on in the tuned session),
    checkpoint construction still materializes the subtree's SHUFFLE
    stages at call time (AdaptiveSparkPlanExec resolves its final plan by
    running the query stages), so ``fn(spark, dir)`` on a snapshot-using
    query is not job-free — only the final stage waits for the action.
    Cost attribution is unchanged for callers that time construction and
    action together (bench.py does).  Callers needing a per-query release
    handle use ``tracked_localcheckpoint`` directly.
    """
    return tracked_localcheckpoint(df, eager=False)[0]


def release_snapshots(spark: SparkSession, ids=None) -> int:
    """Unpersist tracked snapshot blocks; returns how many were released.

    With ``ids=None`` releases EVERY snapshot tracked for ``spark``'s
    SparkContext — correct only when no other snapshot-backed result is
    still being consumed (sequential bench loops, test teardowns).  With
    ``ids`` (the handle from ``tracked_localcheckpoint``) releases only
    those, which is the safe form under overlapping query lifetimes.
    Ids tracked under a different SparkContext are never touched.

    DESTRUCTIVE for in-flight plans: a localCheckpointed RDD has no lineage
    to recompute from, so release only after its results are fully consumed.
    """
    sc = spark.sparkContext
    jmap = sc._jsc.getPersistentRDDs()
    released = 0
    with _SNAPSHOT_LOCK:
        tracked = _SNAPSHOT_RDD_IDS.get(sc.applicationId)
        if not tracked:
            return 0
        targets = set(tracked) if ids is None else ({int(i) for i in ids} & tracked)
        for i in targets:
            rdd = jmap.get(i)
            if rdd is not None:
                rdd.unpersist(False)
                released += 1
            tracked.discard(i)
    return released
