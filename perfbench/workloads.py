"""The workloads.

A workload is a fixed list of operations per round.  An operation is a call
into the engine's public entry points; the engine sees only the generated
inputs.  Each operation's ``rows`` is fixed by the inputs the workload
generates, never counted by the engine, so a change that reads less can
never show as lower throughput.

The first warm-up round is the verifying round: its query operations
collect their output and compare it with the DuckDB oracle instead of
writing to the noop sink.  Outputs the timed rounds leave behind (published
tables) are checked after timing.
"""

from __future__ import annotations

import os
import random
import time

import gen
import oracle


class Op:
    """One timed call.  ``fn`` raises on failure; ``check`` names the oracle
    verdict the op's output depends on; ``rows`` is the input rows it reads."""

    def __init__(self, name: str, fn, check: str, rows: int) -> None:
        self.name, self.fn, self.check, self.rows = name, fn, check, rows


class Workload:
    name = ""
    nominal_round_s = 1.0  # one round on a 4-vCPU box; sets the rounds per run
    warm_rounds = 0  # noop rounds after the verifying round, before timing

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.verdicts: dict[str, str | None] = {}  # check name -> None (ok) or reason

    def generate(self) -> None:
        raise NotImplementedError

    def stage(self, spark, i: int) -> None:
        """The engine's own staging of the inputs (timed into setup_s)."""

    def unstage(self, spark) -> None:
        """Undo ``stage`` before the session is stopped and set up again."""

    def ops(self, spark, rnd: int, verify: bool) -> list[Op]:
        raise NotImplementedError

    def verify_last(self, spark) -> None:
        """Oracle checks on what the timed ops left behind."""

    def op_ok(self, op: Op) -> bool:
        return self.verdicts.get(op.check, "not verified") is None

    def samples(self, records: list[dict]) -> list[tuple[float, bool]]:
        """(latency, ok) per operation of the timed rounds."""
        return [(r["t"], r["ok"] and self.op_ok(r["op"])) for r in records]

    def samples_per_round(self) -> int:
        """Samples one round yields (rounds a run did not reach count as
        this many failed operations)."""
        raise NotImplementedError


# --------------------------------------------------------------------------- #
# cms_dag                                                                     #
# --------------------------------------------------------------------------- #

DAG_TASKS = ("load_claims", "load_beneficiary", "dq_claims", "dq_beneficiary",
             "join_and_publish", "dq_final")


class CmsDag(Workload):
    """``patient_claims_pipeline(...).run()`` over seeded CMS-shaped CSVs.
    A round is one DAG run; its operations are the six DAG tasks, timed by
    wrapping the task functions handed to ``Pipeline.add``."""

    name = "cms_dag"
    nominal_round_s = 2.0
    warm_rounds = 4
    n_bene, n_claims = 11450, 6680  # a tenth of the DE-SynPUF sample

    def generate(self) -> None:
        self.csv_dir = os.path.join(self.work, "cms")
        rows = gen.write_cms_csvs(self.csv_dir, self.seed, self.n_bene, self.n_claims)
        self.claims_csv = os.path.join(self.csv_dir, "claims.csv")
        self.bene_csv = os.path.join(self.csv_dir, "beneficiary.csv")
        self.input_bytes = os.path.getsize(self.claims_csv) + os.path.getsize(self.bene_csv)
        self.dag_rows = rows["claims"] + rows["beneficiary"]
        self.task_log: list[tuple[str, float, bool]] = []
        self.dag_tasks: dict[str, list[tuple[str, float, bool]]] = {}
        self._install_task_timer()

    def _install_task_timer(self) -> None:
        """Time every task function a Pipeline is given (one op each)."""
        from airflow_cms_inpatient_etl_spark.plans import orchestration

        orig_add = orchestration.Pipeline.add
        workload = self

        def add(pipeline, name, fn, *args, **kwargs):
            attempts = [0]

            def task():
                attempts[0] += 1
                t0 = time.perf_counter()
                ok = False
                try:
                    with workload.tracer.span(f"orchestration.task.{name}", attempt=attempts[0]):
                        out = fn()
                    ok = True
                    return out
                finally:
                    workload.task_log.append((name, time.perf_counter() - t0, ok))

            return orig_add(pipeline, name, task, *args, **kwargs)

        orchestration.Pipeline.add = add

    def stage(self, spark, i: int) -> None:
        from airflow_cms_inpatient_etl_spark.schemas import (
            BENEFICIARY_KEEP_COLS, BENEFICIARY_SCHEMA, CLAIMS_KEEP_COLS, CLAIMS_SCHEMA)
        from airflow_cms_inpatient_etl_spark.sources.files import read_csv_projected

        # header validation of both inputs
        read_csv_projected(spark, self.claims_csv, CLAIMS_KEEP_COLS, CLAIMS_SCHEMA)
        read_csv_projected(spark, self.bene_csv, BENEFICIARY_KEEP_COLS, BENEFICIARY_SCHEMA)

    def _run_dag(self, spark, out: str) -> None:
        from airflow_cms_inpatient_etl_spark.plans.orchestration import patient_claims_pipeline

        first = len(self.task_log)
        try:  # retry at once: the reference's 2-minute retry delay is not work
            patient_claims_pipeline(spark, self.claims_csv, self.bene_csv, out).run(sleep=lambda _s: None)
        finally:
            self.dag_tasks[out] = self.task_log[first:]

    def ops(self, spark, rnd: int, verify: bool) -> list[Op]:
        out = os.path.join(self.work, "published", f"r{rnd}")
        return [Op("dag", lambda: self._run_dag(spark, out), out, self.dag_rows)]

    def samples(self, records: list[dict]) -> list[tuple[float, bool]]:
        """One sample per task attempt; a task that a failed run never
        reached counts as attempted and failed (latency NaN)."""
        out = []
        for r in records:
            tasks = self.dag_tasks.get(r["op"].check, [])
            published = self.op_ok(r["op"])
            out += [(t, ok and published) for _, t, ok in tasks]
            reached = {name for name, _, _ in tasks}
            out += [(float("nan"), False)] * sum(1 for n in DAG_TASKS if n not in reached)
        return out

    def samples_per_round(self) -> int:
        return len(DAG_TASKS)

    def verify_last(self, spark) -> None:
        con = oracle.connect()
        want = oracle.expected_patient_claims(con, self.claims_csv, self.bene_csv)
        for out in self.dag_tasks:
            try:
                got = oracle.published_patient_claims(con, out)
                self.verdicts[out] = None if got == want else f"published {got} != oracle {want}"
            except Exception as exc:
                self.verdicts[out] = error_line(exc)
        con.close()


# --------------------------------------------------------------------------- #
# stream_cdc                                                                  #
# --------------------------------------------------------------------------- #

QUERY_TABLES = {  # tables each registry query reads (fixed by the workload)
    "streaming_tumbling_live": ("events",),
    "cdc_upsert_orders": ("orders",),
    "incremental_agg_merge": ("lineitem",),
}


def error_line(exc: BaseException) -> str:
    first = str(exc).splitlines()[0][:200] if str(exc) else ""
    return f"{type(exc).__name__}: {first}"


class StreamCdc(Workload):
    """The write and state path, in a seeded order each round: a live
    streaming query, CDC/IVM registry queries through the noop sink, and a
    seeded change feed drained one micro-batch per op through
    ``streaming.jobs.stream_upsert_to_parquet``."""

    name = "stream_cdc"
    nominal_round_s = 11.0
    sf = 0.001
    queries = tuple(QUERY_TABLES)
    feed_per_round, feed_rows, key_space = 12, 2000, 20000

    def generate(self) -> None:
        self.data_dir = os.path.join(self.work, "data")
        self.table_rows = gen.write_tables(self.data_dir, self.seed, self.sf)
        self.feed_dir = os.path.join(self.work, "feed")
        os.makedirs(self.feed_dir)
        self.base_file = os.path.join(self.feed_dir, "base.parquet")
        gen.write_change_batch(self.base_file, self.seed, -1, self.key_space, self.key_space)
        self.consumed = [self.base_file]
        self.staged: list[str] = []
        self.batch_no = 0
        self.query = None
        self.duck = oracle.connect(self.data_dir, self.table_rows)

    def stage(self, spark, i: int) -> None:
        from airflow_cms_inpatient_etl_spark.sources.files import write_table
        from airflow_cms_inpatient_etl_spark.streaming.jobs import stream_upsert_to_parquet

        cdc = os.path.join(self.work, f"cdc{i}")
        self.src, self.target = os.path.join(cdc, "src"), os.path.join(cdc, "table")
        os.makedirs(self.src)
        write_table(spark.read.parquet(self.base_file), self.target)
        updates = (spark.readStream.schema("key long, val string, seq long")
                   .option("maxFilesPerTrigger", 1).parquet(self.src))
        self.query = stream_upsert_to_parquet(updates, self.target, os.path.join(cdc, "ckpt"), ["key"], "seq")
        self.upsert_id = str(self.query.id)

    def unstage(self, spark) -> None:
        self.query.stop()

    # -- operations ---------------------------------------------------------
    def _run_query(self, spark, name: str) -> None:
        from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
        from airflow_cms_inpatient_etl_spark.sources import registry

        with self.tracer.span(f"query.{name}.plan"):
            df = QUERY_REGISTRY[name].fn(spark, self.data_dir)
        with self.tracer.span(f"query.{name}.action"):
            df.write.format("noop").mode("overwrite").save()
        registry.release_snapshots(spark)

    def _verify_query(self, spark, name: str) -> None:
        from airflow_cms_inpatient_etl_spark.queries import QUERY_REGISTRY
        from airflow_cms_inpatient_etl_spark.sources import registry

        self.verdicts[name] = "failed before its output was checked"
        got = QUERY_REGISTRY[name].fn(spark, self.data_dir).toPandas()
        registry.release_snapshots(spark)
        self.verdicts[name] = oracle.frames_mismatch(got, self.duck.execute(QUERY_REGISTRY[name].oracle).df(), name)

    def _drain(self) -> None:
        """Deliver the oldest staged change file and wait until the stream
        has merged it (the feed stays in ``seq`` order whatever the op order)."""
        staged = self.staged.pop(0)
        dest = os.path.join(self.src, os.path.basename(staged))
        # the running stream polls the directory: the file must appear
        # atomically, with the mtime it was generated with (the file source
        # orders by mtime and skips files far older than the newest it saw)
        os.rename(staged, dest)
        self.consumed.append(dest)
        with self.tracer.span("upsert.drain"):
            self.query.processAllAvailable()

    def ops(self, spark, rnd: int, verify: bool) -> list[Op]:
        run = self._verify_query if verify else self._run_query
        ops = [Op(n, lambda n=n: run(spark, n), n, sum(self.table_rows[t] for t in QUERY_TABLES[n]))
               for n in self.queries]
        for _ in range(self.feed_per_round):
            # change files are generated here, before the round: not timed
            staged = os.path.join(self.feed_dir, f"batch{self.batch_no:05d}.parquet")
            gen.write_change_batch(staged, self.seed, self.batch_no, self.feed_rows, self.key_space)
            self.batch_no += 1
            self.staged.append(staged)
            ops.append(Op("cdc_feed_batch", self._drain, "cdc_feed", self.feed_rows))
        random.Random(self.seed * 1000 + rnd).shuffle(ops)
        return ops

    def samples_per_round(self) -> int:
        return len(self.queries) + self.feed_per_round

    def verify_last(self, spark) -> None:
        self.query.stop()
        try:
            want = oracle.expected_upsert(self.duck, self.consumed)
            got = oracle.published_upsert(self.duck, self.target)
            self.verdicts["cdc_feed"] = None if got == want else f"upsert table {got} != oracle {want}"
        except Exception as exc:
            self.verdicts["cdc_feed"] = error_line(exc)
        self.duck.close()


WORKLOADS = {w.name: w for w in (CmsDag, StreamCdc)}
