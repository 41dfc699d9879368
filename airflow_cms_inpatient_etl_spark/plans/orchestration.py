"""Orchestration (reference A19): linear task chains with retries.

The reference wires its work as Airflow task chains —
``start >> drop >> create >> load >> dq >> load >> dq >> join >> dq >> ready``
(``/root/reference/dags/patient_claims_plus_postgres.py:203-214``) with
``retries=1, retry_delay=2min`` (``:14-19``) — where every task is a SQL
round-trip to Postgres.  In the Spark-native engine, the *intra-job* chain
collapses into one lazy Spark plan; what remains for an orchestrator are the
coarse stages.  ``patient_claims_pipeline`` keeps the reference's six task
names but reorders the edges so DQ gates readiness:
``load_claims, load_beneficiary >> join_and_publish >> dq_claims,
dq_beneficiary >> dq_final``.  The publish is staged, the checks read metrics
observed during its one write, and ``dq_final`` swaps the checked table in.

``Pipeline`` is a dependency-ordered runner with per-task retries so the engine
is orchestrator-agnostic (usable from a cron, a test, or a notebook);
``build_airflow_dag`` shows the identical graph on Airflow when it is
installed (it is not in this container — import-gated).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Task:
    name: str
    fn: Callable[[], object]
    upstream: list[str] = field(default_factory=list)
    retries: int = 1  # reference default (:17)
    retry_delay_s: float = 120.0  # reference: 2 minutes (:18)


class PipelineError(RuntimeError):
    pass


class Pipeline:
    """Tiny DAG runner: topological execution, per-task retries, fail-fast."""

    def __init__(self) -> None:
        self._tasks: dict[str, Task] = {}

    def add(
        self,
        name: str,
        fn: Callable[[], object],
        upstream: list[str] | None = None,
        retries: int = 1,
        retry_delay_s: float = 120.0,
    ) -> "Pipeline":
        if name in self._tasks:
            raise ValueError(f"duplicate task {name!r}")
        for up in upstream or []:
            if up not in self._tasks:
                raise ValueError(f"task {name!r} depends on unknown task {up!r}")
        self._tasks[name] = Task(name, fn, list(upstream or []), retries, retry_delay_s)
        return self

    def topo_order(self) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()

        def visit(n: str, stack: tuple[str, ...]) -> None:
            if n in stack:
                raise PipelineError(f"cycle detected at {n!r}")
            if n in seen:
                return
            for up in self._tasks[n].upstream:
                visit(up, stack + (n,))
            seen.add(n)
            order.append(n)

        for n in self._tasks:
            visit(n, ())
        return order

    def run(self, sleep: Callable[[float], None] = time.sleep) -> dict[str, object]:
        """Execute in dependency order; each task gets `retries` extra attempts."""
        results: dict[str, object] = {}
        for name in self.topo_order():
            task = self._tasks[name]
            attempts = task.retries + 1
            for attempt in range(1, attempts + 1):
                try:
                    results[name] = task.fn()
                    break
                except Exception as exc:
                    if attempt == attempts:
                        raise PipelineError(f"task {name!r} failed after {attempts} attempts") from exc
                    sleep(task.retry_delay_s)
        return results


def patient_claims_pipeline(spark, claims_csv: str, beneficiary_csv: str, out_path: str) -> Pipeline:
    """The reference DAG 2 as an engine pipeline: load → join → stage →
    DQ → publish, in one scan of each CSV.

    The drop/create/COPY triplet of the reference collapses into the Spark
    load+cast scan, and DQ checks actually raise (fixing A14).  The checks
    gate the publish instead of re-scanning its inputs:

    * ``load_claims`` / ``load_beneficiary`` define the projected scans
      (header read on the driver, no Spark job).
    * ``join_and_publish`` attaches the metrics the checks need
      (``dq.observe_dq``): row counts of claims, beneficiary and the joined
      table, and the beneficiary key's null and distinct counts.  It then
      writes the joined table ONCE, to the staged dir ``<out_path>.next``
      (no ``_SUCCESS`` marker).  That write is the run's only scan and carries
      every metric: two Spark jobs, the beneficiary broadcast and the write.
      An observation keeps only the first action's result, so every attempt
      of the task attaches fresh ones: a retried publish is never judged
      by a failed attempt's metrics.
    * ``dq_claims`` and ``dq_beneficiary`` (after ``join_and_publish``) and
      ``dq_final`` (after both) check the observed metrics; ``dq_final`` then
      approves the staged table by renaming it to ``<out_path>.ready`` and
      swaps it in (``files.commit_staged``).

    A failing check drops the staged table, so the published table stays as
    it was.  A crash before the approval leaves a ``.next`` dir that is
    never promoted; a crash after it leaves a ``.ready`` dir, beside the old
    table or in its place, that the next run promotes before it stages."""
    from airflow_cms_inpatient_etl_spark.plans import dq
    from airflow_cms_inpatient_etl_spark.plans.patient_claims import build_patient_claims_plus
    from airflow_cms_inpatient_etl_spark.schemas import (
        BENEFICIARY_KEEP_COLS,
        BENEFICIARY_SCHEMA,
        CLAIMS_KEEP_COLS,
        CLAIMS_SCHEMA,
    )
    from airflow_cms_inpatient_etl_spark.sources.files import (
        commit_staged,
        discard_staged,
        promote_staged,
        read_csv_projected,
        write_table_staged,
    )

    state: dict[str, object] = {}

    def load_claims():
        state["claims"] = read_csv_projected(spark, claims_csv, CLAIMS_KEEP_COLS, CLAIMS_SCHEMA)
        return "loaded"

    def load_beneficiary():
        state["bene"] = read_csv_projected(
            spark, beneficiary_csv, BENEFICIARY_KEEP_COLS, BENEFICIARY_SCHEMA
        )
        return "loaded"

    def join_and_publish():
        claims, state["claims_dq"] = dq.observe_dq(state["claims"], "claims")
        bene, state["bene_dq"] = dq.observe_dq(
            state["bene"], "beneficiary", unique_key="desynpuf_id"
        )
        out, state["final_dq"] = dq.observe_dq(
            build_patient_claims_plus(claims, bene), "patient_claims_plus"
        )
        promote_staged(spark, out_path)
        write_table_staged(out, out_path)
        return out_path

    def gate(check):
        """A DQ task: a failing check drops the staged table."""

        def task():
            try:
                return check()
            except dq.DataQualityError:
                discard_staged(spark, out_path)
                raise

        return task

    def dq_claims():
        return dq.check_non_empty(state["claims_dq"], "claims")

    def dq_beneficiary():
        dq.check_unique_key(state["bene_dq"], "desynpuf_id", "beneficiary")
        return dq.check_non_empty(state["bene_dq"], "beneficiary")

    def dq_final():
        n = dq.check_non_empty(state["final_dq"], "patient_claims_plus")
        commit_staged(spark, out_path)
        return n

    return (
        Pipeline()
        .add("load_claims", load_claims)
        .add("load_beneficiary", load_beneficiary)
        .add("join_and_publish", join_and_publish, upstream=["load_claims", "load_beneficiary"])
        .add("dq_claims", gate(dq_claims), upstream=["join_and_publish"])
        .add("dq_beneficiary", gate(dq_beneficiary), upstream=["join_and_publish"])
        .add("dq_final", gate(dq_final), upstream=["dq_claims", "dq_beneficiary"])
    )


def build_airflow_dag(dag_id: str, pipeline: Pipeline, schedule=None):
    """Wire the same graph as an Airflow DAG (reference's orchestrator).

    Import-gated: Airflow is not installed in this container; on a real
    deployment each task becomes a PythonOperator (or the Spark jobs submit via
    SparkSubmitOperator) with the reference's retry policy."""
    try:
        from airflow import DAG
        from airflow.operators.python import PythonOperator
    except ImportError as exc:  # pragma: no cover - exercised only with Airflow
        raise ImportError("apache-airflow is not installed in this environment") from exc

    import datetime

    dag = DAG(dag_id=dag_id, schedule=schedule, start_date=datetime.datetime(2024, 1, 1))
    ops = {}
    for name in pipeline.topo_order():
        task = pipeline._tasks[name]
        ops[name] = PythonOperator(
            task_id=name,
            python_callable=task.fn,
            retries=task.retries,
            retry_delay=datetime.timedelta(seconds=task.retry_delay_s),
            dag=dag,
        )
    for name, task in pipeline._tasks.items():
        for up in task.upstream:
            ops[up] >> ops[name]
    return dag
