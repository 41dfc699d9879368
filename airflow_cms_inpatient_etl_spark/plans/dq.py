"""Data-quality checks — the reference's DQ checks, made real.

The reference runs three ``SELECT CASE WHEN COUNT(*) > 0 THEN 1 ELSE 0 END``
"checks" (``/root/reference/dags/patient_claims_plus_postgres.py:125-130,
:150-155,:194-199``) that can never fail the DAG — a SELECT returning 0 still
succeeds.  Here they raise (SURVEY.md A14), and we add the join-key uniqueness
check the reference silently assumes (beneficiary must be ≤1 row per patient or
the LEFT join fans out).

The checks never re-scan: ``observe_dq`` attaches the metrics to a frame, they
accumulate while the one action that consumes it runs (the CMS DAG's publish
write), and ``check_non_empty`` / ``check_unique_key`` judge the observation
afterwards.  The reference's literal 1/0 flag shape is the registry query
``queries/parity.py:dq_rowcount_flag``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.sources.files import quoted


class DataQualityError(AssertionError):
    pass


def observe_dq(df: DataFrame, name: str, null_check_cols=(), unique_key: str | None = None):
    """Single-pass DQ profiling via ``df.observe``: row count, per-column
    null counts and, for ``unique_key``, its null and distinct counts are
    accumulated AS the plan executes — no second scan.

    At 100 TB this is the only affordable way to profile every pipeline
    stage: a check that re-runs the plan (a ``count()`` or a group-by per
    check) pays a full scan each, while observed metrics ride the existing
    job like accumulators with SQL semantics (exactly-once per row even under
    task retries, unlike raw accumulators).  The distinct count is a
    ``collect_set`` of the key, merged on the driver, so ``unique_key`` is
    for a side that is driver-sized anyway (a broadcast dimension).

    Returns ``(df_with_observation, observation)``; read the observation
    AFTER an action has materialized the returned frame.
    """
    cols = list(dict.fromkeys([*null_check_cols, *([unique_key] if unique_key else [])]))
    # SQL strings: one py4j call per metric, not one per Column method
    metrics = ["count(1) AS n_rows"] + [
        f"count_if({quoted(c)} IS NULL) AS {quoted('n_null_' + c)}" for c in cols
    ]
    if unique_key:
        metrics.append(
            f"size(collect_set({quoted(unique_key)})) AS {quoted('n_distinct_' + unique_key)}"
        )
    obs = Observation(name)
    return df.observe(obs, *map(F.expr, metrics)), obs


def observed_metrics(obs: Observation, name: str) -> dict:
    """The observation's metrics, failing closed: an observation completed
    without metrics fails the check instead of passing it.  That happens
    when AQE prunes the observed subtree from the executed plan, which it
    does when a join input turns out empty (an empty broadcast side)."""
    if obs._jo.getRow().length() == 0:  # blocks until the action has ended
        raise DataQualityError(
            f"DQ failed: no metrics were observed for {name!r} (its input was empty and pruned)"
        )
    return obs.get


def check_non_empty(obs: Observation, name: str) -> int:
    n = observed_metrics(obs, name)["n_rows"]
    if n == 0:
        raise DataQualityError(f"DQ failed: table {name!r} is empty")
    return n


def check_unique_key(obs: Observation, key: str, name: str) -> None:
    """Fail if any key value occurs more than once.  NULL keys count as one
    value, as in a group-by: two NULL keys are a duplicate."""
    m = observed_metrics(obs, name)
    n_null = m[f"n_null_{key}"]
    if n_null > 1 or m["n_rows"] - n_null != m[f"n_distinct_{key}"]:
        raise DataQualityError(f"DQ failed: key {key!r} not unique in {name!r}")


def k_anonymity_profile(df, quasi_identifiers: list[str], k: int = 5):
    """Per-equivalence-class k-anonymity profile over a set of
    quasi-identifier columns: group size and an at-risk flag for classes
    smaller than ``k``.  The privacy counterpart of the PII scrub
    (operators/scrub.py): scrubbing removes direct identifiers, while rare
    quasi-identifier combinations can still single out individuals — the
    release gate is "no equivalence class below k" (Sweeney 2002, public
    literature).  One hash aggregation with map-side partial counts: the same
    cost/shape as any groupBy at 100 TB, no per-row state."""
    from pyspark.sql import functions as F

    return df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).alias("class_size"),
        (F.count(F.lit(1)) < k).alias("at_risk"),
    )


def l_diversity_profile(df, quasi_identifiers: list[str], sensitive: str, l: int = 3):
    """Per-equivalence-class l-diversity profile (Machanavajjhala et al. 2007,
    public literature): k-anonymity bounds class SIZE, but a class whose
    members all share one sensitive value still leaks it — l-diversity
    requires >= l distinct sensitive values per class, and the dominance
    check flags classes where one value covers more than half the rows
    (the integer form of the entropy/recursive variants — no libm, so
    engine-exact).  Shape: one (quasi, sensitive) census with map-side
    partials, then a class-level roll-up that reuses the same hash
    partitioning (quasi is a prefix of the census key) — two exchanges,
    both census-sized, never row-sized."""
    from pyspark.sql import functions as F

    census = df.groupBy(*quasi_identifiers, sensitive).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return census.groupBy(*quasi_identifiers).agg(
        F.sum("__n").alias("class_size"),
        F.count(F.lit(1)).alias("l_distinct"),
        F.max("__n").alias("top_sensitive_n"),
        (
            (F.count(F.lit(1)) < l)
            | (2 * F.max("__n") > F.sum("__n"))
        ).alias("at_risk"),
    )
