"""Spans around the engine's public functions, attributed to Spark's own
counters.

A span records name, start, end and parent, plus the range of Spark job ids
allocated while it was open.  Job ids are handed out sequentially by the
DAG scheduler, so a span's jobs are exactly that range -- including the
micro-batch jobs a streaming query runs on its own thread, which a job
group cannot catch.  Each span still sets a job group (``perfbench-<id>``,
with the span name as description) so the jobs are labelled in any Spark
tool.  Stage counters are read from the in-process status store
(``statusTracker`` job -> stage ids -> ``statusStore().lastStageAttempt``),
which is populated with the UI off.  Spans stay in memory and are written
once, when the run ends.

``install`` wraps public engine functions; it patches every module-level
binding of the original function object, because queries bind helpers by
``from``-import when they are imported.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import statistics
import sys
import time
from collections import Counter, defaultdict

STAGE_FIELDS = {  # spark.<metric>: (StageData getter, scale to the metric unit)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "jvm_gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numTasks", 1),
}


class Tracer:
    """Records spans while ``active``; inactive, ``span`` does nothing."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.stage_ids_seen: set[int] = set()
        self.progress: list[dict] = []
        self.windows: list[tuple[float, float]] = []  # epoch seconds of traced rounds

    def attach(self, spark) -> None:
        """Bind to the session the traced work runs on."""
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    # -- spans --------------------------------------------------------------
    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
              "attrs": attrs, "start": time.perf_counter()}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"perfbench-{sp['id']}", name, False)
        sp["job_lo"] = self.next_job_id()
        try:
            yield sp
        except BaseException as exc:
            sp["error"] = type(exc).__name__
            raise
        finally:
            sp["job_hi"] = self.next_job_id()
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- spark counters -----------------------------------------------------
    def resolve(self, spans: list[dict]) -> None:
        """Attach inclusive stage counters to each span (call after the work
        has finished; waits for the listener bus so counters are final)."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        stage_of_job: dict[int, dict] = {}
        for sp in spans:
            total = Counter()
            for job in range(sp["job_lo"], sp["job_hi"]):
                if job not in stage_of_job:
                    acc = Counter(jobs=1)
                    info = tracker.getJobInfo(job)
                    for sid in list(info.stageIds) if info else ():
                        if sid in self.stage_ids_seen:
                            continue  # a stage shared by several jobs counts once
                        self.stage_ids_seen.add(sid)
                        try:
                            sd = store.lastStageAttempt(sid)
                        except Exception:  # evicted from the status store
                            acc["stages_lost"] += 1
                            continue
                        if sd.status().toString() == "SKIPPED":
                            continue
                        acc["stages"] += 1
                        for metric, (getter, scale) in STAGE_FIELDS.items():
                            acc[metric] += getattr(sd, getter)() * scale
                    stage_of_job[job] = acc
                total.update(stage_of_job[job])
            sp["spark"] = dict(total)

    # -- streaming progress -------------------------------------------------
    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                progress.append({
                    "at": datetime.datetime.fromisoformat(p["timestamp"]).timestamp(),
                    "id": p.get("id"), "name": p.get("name"), "batch": p.get("batchId"),
                    "rows": p.get("numInputRows", 0),
                    "durations_ms": p.get("durationMs", {}),
                    "state_rows": sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])),
                    "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", [])),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Progress()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "streaming_progress": self.progress, **extra}, fh)


# --------------------------------------------------------------------------- #
# wrappers around the engine's public functions                               #
# --------------------------------------------------------------------------- #

def _patch_everywhere(orig, new) -> None:
    for name, mod in list(sys.modules.items()):
        if not name.startswith("airflow_cms_inpatient_etl_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points with spans (names are
    ``<module>.<function>``)."""
    import airflow_cms_inpatient_etl_spark.queries  # noqa: F401  (binds every from-import)
    from airflow_cms_inpatient_etl_spark.plans import dq, patient_claims
    from airflow_cms_inpatient_etl_spark.sources import files, registry
    from airflow_cms_inpatient_etl_spark.streaming import jobs

    targets = [(files, "read_csv_projected", "files.read_csv"),
               (files, "write_table", "files.write_table"),
               (patient_claims, "build_patient_claims_plus", "patient_claims.build"),
               (registry, "load_table", "registry.load_table"),
               # ``snapshot`` and the graph operators' per-round snapshots
               # all go through this primitive
               (registry, "tracked_localcheckpoint", "registry.snapshot"),
               (registry, "release_snapshots", "registry.release"),
               (jobs, "run_stream_to_memory", "streaming.run_stream_to_memory"),
               (jobs, "stream_upsert_to_parquet", "streaming.stream_upsert_to_parquet")]
    targets += [(dq, name, f"dq.{name}") for name, fn in vars(dq).items()
                if callable(fn) and getattr(fn, "__module__", None) == dq.__name__
                and not isinstance(fn, type)]
    for mod, attr, span_name in targets:
        orig = getattr(mod, attr)
        _patch_everywhere(orig, tracer.wrap(span_name, orig))


# --------------------------------------------------------------------------- #
# per-layer metrics from the finished spans                                   #
# --------------------------------------------------------------------------- #

def _self_s(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its direct children cover."""
    child_s: dict[int, float] = defaultdict(float)
    for sp in spans:
        if sp["parent"] is not None:
            child_s[sp["parent"]] += sp["end"] - sp["start"]
    return {sp["id"]: (sp["end"] - sp["start"]) - child_s[sp["id"]] for sp in spans}


def layer_metrics(spans: list[dict], progress: list[dict], windows: list, upsert_ids: set) -> dict[str, float]:
    """Aggregate spans, and the streaming progress of triggers that started
    inside a traced round, into ``<module>.<metric>`` values."""
    progress = [p for p in progress if any(lo <= p["at"] <= hi for lo, hi in windows)]
    own = _self_s(spans)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for sp in spans:
        by_name[sp["name"]].append(sp)

    def total_s(prefix: str) -> float:
        return sum(sp["end"] - sp["start"] for n, v in by_name.items() if n.startswith(prefix) for sp in v)

    def spark_sum(prefix: str, metric: str) -> float:
        return sum(sp.get("spark", {}).get(metric, 0) for n, v in by_name.items()
                   if n.startswith(prefix) for sp in v)

    dq_spans = [sp for n, v in by_name.items() if n.startswith("dq.") for sp in v]
    m = {
        "dq.calls": len(dq_spans),
        "dq.self_s": sum(own[sp["id"]] for sp in dq_spans),
        "dq.spark_jobs": spark_sum("dq.", "jobs"),
        "dq.input_bytes": spark_sum("dq.", "input_bytes"),
        "files.read_csv_s": total_s("files.read_csv"),
        "files.write_table_s": total_s("files.write_table"),
        "files.output_bytes": spark_sum("files.write_table", "output_bytes"),
        "patient_claims.build_s": total_s("patient_claims.build"),
        "registry.load_table_calls": len(by_name.get("registry.load_table", [])),
        "registry.snapshots": len(by_name.get("registry.snapshot", [])),
        "registry.release_s": total_s("registry.release"),
        "queries.plan_s": sum(sp["end"] - sp["start"] for n, v in by_name.items()
                              if n.startswith("query.") and n.endswith(".plan") for sp in v),
        "queries.action_s": sum(sp["end"] - sp["start"] for n, v in by_name.items()
                                if n.startswith("query.") and n.endswith(".action") for sp in v),
    }
    for n, v in by_name.items():
        if n.startswith("query.") or n.startswith("orchestration.task."):
            key = n[:-len(".plan")] + ".plan_s" if n.endswith(".plan") else (
                n[:-len(".action")] + ".action_s" if n.endswith(".action") else
                "orchestration.task_s." + n[len("orchestration.task."):])
            m[key] = statistics.median(sp["end"] - sp["start"] for sp in v)
    m["orchestration.retries"] = sum(max(0, sp["attrs"].get("attempt", 1) - 1)
                                     for n, v in by_name.items() if n.startswith("orchestration.task.")
                                     for sp in v)

    live = [p for p in progress if p["rows"] or p["id"] in upsert_ids]
    stream = [p for p in live if p["id"] not in upsert_ids]
    ups = [p for p in live if p["id"] in upsert_ids]
    trig = [p["durations_ms"].get("triggerExecution", 0) / 1e3 for p in stream]
    m.update({
        "streaming.batches": len(stream),
        "streaming.input_rows": sum(p["rows"] for p in stream),
        "streaming.batch_p50_s": statistics.median(trig) if trig else 0.0,
        "streaming.add_batch_s": sum(p["durations_ms"].get("addBatch", 0) for p in stream) / 1e3,
        "streaming.wal_commit_s": sum(p["durations_ms"].get("walCommit", 0) for p in stream) / 1e3,
        "streaming.state_rows": max((p["state_rows"] for p in stream), default=0),
        "streaming.state_memory_bytes": max((p["state_bytes"] for p in stream), default=0),
        "upsert.batches": sum(1 for p in ups if p["rows"]),
        "upsert.batch_s": sum(p["durations_ms"].get("triggerExecution", 0) for p in ups if p["rows"]) / 1e3,
    })
    return m


def spark_totals(spans: list[dict]) -> dict[str, float]:
    """Stage counters summed over root spans (each job counted once)."""
    total = Counter()
    for sp in spans:
        if sp["parent"] is None:
            total.update(sp.get("spark", {}))
    return dict(total)
