"""Pipeline-runner tests: topological order, retries, failure propagation,
and the end-to-end patient_claims pipeline (reference DAG 2 shape)."""

from __future__ import annotations

import pytest

from airflow_cms_inpatient_etl_spark.plans.orchestration import (
    Pipeline,
    PipelineError,
    patient_claims_pipeline,
)
from tests.test_cms_parity import BENEFICIARY_CSV, CLAIMS_CSV


def test_topological_order_and_results():
    log = []
    p = (
        Pipeline()
        .add("a", lambda: log.append("a") or 1)
        .add("b", lambda: log.append("b") or 2, upstream=["a"])
        .add("c", lambda: log.append("c") or 3, upstream=["a"])
        .add("d", lambda: log.append("d") or 4, upstream=["b", "c"])
    )
    results = p.run(sleep=lambda s: None)
    assert results == {"a": 1, "b": 2, "c": 3, "d": 4}
    assert log[0] == "a" and log[-1] == "d"


def test_unknown_upstream_and_cycle_rejected():
    with pytest.raises(ValueError, match="unknown task"):
        Pipeline().add("x", lambda: 1, upstream=["nope"])


def test_retries_then_success():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 2:
            raise RuntimeError("transient")
        return "ok"

    slept = []
    p = Pipeline().add("flaky", flaky, retries=1, retry_delay_s=120)
    assert p.run(sleep=slept.append)["flaky"] == "ok"
    assert slept == [120]  # reference retry_delay=2min (:18)


def test_failure_after_retries_raises():
    def always_fails():
        raise RuntimeError("boom")

    p = Pipeline().add("bad", always_fails, retries=1)
    with pytest.raises(PipelineError, match="after 2 attempts"):
        p.run(sleep=lambda s: None)


def test_patient_claims_pipeline_end_to_end(spark, tmp_path):
    claims_csv = tmp_path / "claims.csv"
    bene_csv = tmp_path / "beneficiary.csv"
    claims_csv.write_text(CLAIMS_CSV)
    bene_csv.write_text(BENEFICIARY_CSV)
    out = str(tmp_path / "patient_claims_plus")
    p = patient_claims_pipeline(spark, str(claims_csv), str(bene_csv), out)
    results = p.run(sleep=lambda s: None)
    assert results["dq_claims"] == 4
    assert results["dq_final"] == 4  # all claims survive the LEFT join
    assert spark.read.parquet(out).count() == 4


def test_airflow_dag_builder_gated():
    from airflow_cms_inpatient_etl_spark.plans.orchestration import build_airflow_dag

    with pytest.raises(ImportError, match="not installed"):
        build_airflow_dag("x", Pipeline().add("a", lambda: 1))


# --------------------------------------------------------------------------- #
# the staged, DQ-gated publish                                                #
# --------------------------------------------------------------------------- #

CLAIMS_HEADER = CLAIMS_CSV.splitlines(keepends=True)[0]
BENE_HEADER = BENEFICIARY_CSV.splitlines(keepends=True)[0]


def _pipeline(spark, tmp_path, out, claims=CLAIMS_CSV, bene=BENEFICIARY_CSV):
    """A patient_claims pipeline over its own copy of the given CSV texts."""
    d = tmp_path / f"in{len(list(tmp_path.glob('in*')))}"
    d.mkdir()
    (d / "claims.csv").write_text(claims)
    (d / "beneficiary.csv").write_text(bene)
    return patient_claims_pipeline(spark, str(d / "claims.csv"), str(d / "beneficiary.csv"), out)


def _tree_bytes(path) -> dict:
    """Every file under ``path`` (marker and .crc files too) → its bytes."""
    import os

    return {
        os.path.relpath(os.path.join(root, f), path): open(os.path.join(root, f), "rb").read()
        for root, _, files in os.walk(path)
        for f in files
    }


def _run_tasks(pipeline, *names):
    """Run the named tasks by hand, in order — a run that stops after them."""
    for name in names:
        pipeline._tasks[name].fn()


def test_warm_dag_runs_at_most_three_jobs_and_load_runs_none(spark, tmp_path):
    """One DAG run scans each CSV once: the header read runs no job, and the
    publish write carries every DQ metric — the beneficiary broadcast and the
    write.  Jobs are counted by the range of ids the DAG scheduler hands out."""
    from airflow_cms_inpatient_etl_spark.schemas import CLAIMS_KEEP_COLS, CLAIMS_SCHEMA
    from airflow_cms_inpatient_etl_spark.sources.files import read_csv_projected

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    out = str(tmp_path / "patient_claims_plus")
    _pipeline(spark, tmp_path, out).run(sleep=lambda s: None)  # warm-up
    p = _pipeline(spark, tmp_path, out)
    lo = scheduler.nextJobId()
    results = p.run(sleep=lambda s: None)
    assert scheduler.nextJobId() - lo <= 3
    assert results["dq_claims"] == results["dq_final"] == 4
    lo = scheduler.nextJobId()
    read_csv_projected(spark, str(tmp_path / "in0" / "claims.csv"), CLAIMS_KEEP_COLS, CLAIMS_SCHEMA)
    assert scheduler.nextJobId() - lo == 0


# Gateway commands of a warm DAG run, garbage releases left out, when this
# guard was set (PySpark 4.1.2, py4j's pinned-thread client)
WARM_DAG_PY4J_COMMANDS = 247


def test_warm_dag_sends_few_py4j_commands_and_walks_no_package(spark, tmp_path, monkeypatch):
    """Every command to the JVM is a round trip, and a dotted class path such
    as ``_jvm.org.apache.hadoop.fs.Path`` is one command per name part, all
    but the last a failed class lookup over the whole classpath.  A warm DAG
    run (313 commands before class handles were held, 80 of them such walks)
    sends no ``reflect-unknown`` command for ``org``, ``java`` or ``scala``,
    and at most 1.25x the commands it sent when this guard was set.
    Commands that release JVM objects are not counted: Python's garbage
    collector sends them, whenever it runs."""
    import py4j.clientserver

    out = str(tmp_path / "patient_claims_plus")
    _pipeline(spark, tmp_path, out).run(sleep=lambda s: None)  # warm-up
    p = _pipeline(spark, tmp_path, out)
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        sent.append(command)
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)
        p.run(sleep=lambda s: None)
    unknown = [c.split("\n")[2] for c in sent if c.startswith("r\nu\n")]  # reflect-unknown
    assert not {"org", "java", "scala"} & set(unknown), unknown
    commands = [c for c in sent if not c.startswith("m\nd\n")]
    assert 0 < len(commands) <= 1.25 * WARM_DAG_PY4J_COMMANDS


DQ_FAILURES = {
    "empty_claims": dict(claims=CLAIMS_HEADER),
    # P003 has no claim, so the LEFT join cannot fan out: only the check sees it
    "unreferenced_duplicate_key": dict(bene=BENEFICIARY_CSV + "P003,1,1,19600707,,1,y\n"),
    "two_null_keys": dict(bene=BENEFICIARY_CSV + ",1,1,19500101,,1,y\n" * 2),
    "empty_beneficiary": dict(bene=BENE_HEADER),
    "empty_final_table": dict(),
}


@pytest.mark.parametrize("case", sorted(DQ_FAILURES))
def test_dq_failure_leaves_published_table_untouched(spark, tmp_path, monkeypatch, case):
    """A failing check drops the staged table: the table published by the
    previous run stays byte-identical and no ``.next`` dir is left."""
    import os

    from airflow_cms_inpatient_etl_spark.plans import dq, patient_claims

    out = str(tmp_path / "patient_claims_plus")
    _pipeline(spark, tmp_path, out).run(sleep=lambda s: None)
    before = _tree_bytes(out)
    if case == "empty_final_table":
        build = patient_claims.build_patient_claims_plus
        monkeypatch.setattr(
            patient_claims,
            "build_patient_claims_plus",
            lambda c, b: build(c, b).filter("claim_id = 'no such claim'"),
        )
    with pytest.raises(PipelineError) as err:
        _pipeline(spark, tmp_path, out, **DQ_FAILURES[case]).run(sleep=lambda s: None)
    assert isinstance(err.value.__cause__, dq.DataQualityError)
    assert _tree_bytes(out) == before
    assert _no_stage_left(out)


def test_missing_column_fails_the_load_task(spark, tmp_path):
    from airflow_cms_inpatient_etl_spark.sources.files import MissingColumnsError

    out = str(tmp_path / "patient_claims_plus")
    with pytest.raises(PipelineError, match="load_claims") as err:
        _pipeline(spark, tmp_path, out, claims=BENEFICIARY_CSV).run(sleep=lambda s: None)
    assert isinstance(err.value.__cause__, MissingColumnsError)


def _no_stage_left(out) -> bool:
    import os

    return not os.path.exists(out + ".next") and not os.path.exists(out + ".ready")


def test_crash_before_checks_never_promotes_unchecked_stage(spark, tmp_path):
    """First publish, crash after staging and before the checks: the staged
    dir is a ``.next``, never approved to ``.ready``.  A later run must not
    promote it — here that run fails its own checks, and no table is
    published at all."""
    import os

    out = str(tmp_path / "patient_claims_plus")
    _run_tasks(_pipeline(spark, tmp_path, out), "load_claims", "load_beneficiary", "join_and_publish")
    assert os.path.isdir(out + ".next") and not os.path.exists(out + ".ready")
    assert not os.path.exists(out)
    with pytest.raises(PipelineError):
        _pipeline(spark, tmp_path, out, claims=CLAIMS_HEADER).run(sleep=lambda s: None)
    assert not os.path.exists(out) and _no_stage_left(out)


def test_crash_between_delete_and_rename_promotes_checked_table(spark, tmp_path):
    """Crash inside the swap: the table dir is gone and only the approved
    ``.ready`` dir holds it.  The next run promotes it before staging, so
    even when that run fails its checks the checked table is live."""
    import os

    out = str(tmp_path / "patient_claims_plus")
    _pipeline(spark, tmp_path, out).run(sleep=lambda s: None)
    before = _tree_bytes(out)
    os.rename(out, out + ".ready")
    with pytest.raises(PipelineError):
        _pipeline(spark, tmp_path, out, claims=CLAIMS_HEADER).run(sleep=lambda s: None)
    assert _tree_bytes(out) == before
    assert _no_stage_left(out)


@pytest.mark.parametrize("next_run_passes", [True, False])
def test_crash_between_approval_and_delete_promotes_approved_table(
    spark, tmp_path, next_run_passes
):
    """Crash after the approval rename and before the delete: the old table
    and the approved ``.ready`` dir both exist.  The next run replaces the
    old table with the approved one before it stages, so no approved row is
    lost if that run fails its checks, and a run that passes publishes its
    own table, not the approved one (its stage renamed into the leftover
    ``.ready`` would land inside it)."""
    import os

    out = str(tmp_path / "patient_claims_plus")
    three_claims = "".join(CLAIMS_CSV.splitlines(keepends=True)[:-1])
    _pipeline(spark, tmp_path, out, claims=three_claims).run(sleep=lambda s: None)
    _run_tasks(
        _pipeline(spark, tmp_path, out),
        *("load_claims", "load_beneficiary", "join_and_publish", "dq_claims", "dq_beneficiary"),
    )
    os.rename(out + ".next", out + ".ready")  # the approval, then the crash
    approved = _tree_bytes(out + ".ready")
    assert _tree_bytes(out) != approved
    if next_run_passes:
        _pipeline(spark, tmp_path, out, claims=three_claims).run(sleep=lambda s: None)
        assert spark.read.parquet(out).count() == 3
        assert not any(os.path.isdir(os.path.join(out, f)) for f in os.listdir(out))
    else:
        with pytest.raises(PipelineError):
            _pipeline(spark, tmp_path, out, claims=CLAIMS_HEADER).run(sleep=lambda s: None)
        assert _tree_bytes(out) == approved
    assert _no_stage_left(out)


def test_retried_publish_is_judged_by_its_own_metrics(spark, tmp_path, monkeypatch):
    """The first publish write fails inside its Spark job, after part of the
    input has streamed through the observations.  A failed action still
    completes an observation, with partial counts, and an observation keeps
    only its first result: the retry must attach fresh ones, so the checks
    pass with the full counts and the retried write is published."""
    from pyspark.sql import functions as F

    from airflow_cms_inpatient_etl_spark.sources import files

    write = files.write_table
    attempts = []

    def flaky_write(df, path, *args, **kwargs):
        attempts.append(path)
        if len(attempts) == 1:
            fail = F.raise_error(F.lit("transient write failure"))
            claim_id = F.when(F.col("claim_id") == "C4", fail).otherwise(F.col("claim_id"))
            df = df.withColumn("claim_id", claim_id)
        write(df, path, *args, **kwargs)

    monkeypatch.setattr(files, "write_table", flaky_write)
    out = str(tmp_path / "patient_claims_plus")
    results = _pipeline(spark, tmp_path, out).run(sleep=lambda s: None)
    assert len(attempts) == 2
    assert results["dq_claims"] == results["dq_final"] == 4
    assert results["dq_beneficiary"] == 3
    published = sorted(r["claim_id"] for r in spark.read.parquet(out).collect())
    assert published == ["C1", "C2", "C3", "C4"]
