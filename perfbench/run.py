"""Benchmark of the engine's CMS DAG and its streaming/CDC write path.

    python3 perfbench/run.py --driver-mem 2g --cpu-reserve 1 \
        --workload cms_dag --seed 1 --seconds 26 --trace 0

Run from the root of a checkout.  One run:

1. generates the workload's inputs from ``--seed`` under ``.perfbench/``
   (not timed);
2. sets up the engine: ``get_spark()`` plus the engine's own staging of
   the inputs (this first, cold set-up includes the JVM start);
3. warms up at the measured scale: one verifying round, whose queries
   collect their output and compare it with the oracle, then a fixed
   number of noop rounds per workload;
4. runs a fixed number of rounds, ``--seconds`` / the workload's nominal
   round time, and times every operation.  ``wall_s`` and ``cpu_s`` are
   the elapsed wall time and the process-tree CPU seconds of all those
   rounds.  A program slowed past three times ``--seconds`` stops early,
   and the operations of the rounds it did not reach count as failed;
5. checks what the timed operations produced against the oracle; an
   operation counts as ok only if it completed and its output matched;
6. sets up four more times in the warmed JVM (session restart plus
   staging) and reports the median of all five set-ups as ``setup_s``.

The last stdout line is the result JSON: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before it
holds diagnostics (warm-up, host steal, sample counts behind percentiles,
errors).  A traced run alternates untraced and traced rounds, so
``trace.overhead_frac`` compares rounds equally warmed; its spans are
written to ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "airflow_cms_inpatient_etl_spark"
SETUPS = 5  # setup_s is the median of this many set-ups: one cold, the rest at the end


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="2g", help="SPARK_GRAFT_DRIVER_MEM (JVM heap)")
    ap.add_argument("--cpu-reserve", type=int, default=1,
                    help="SPARK_GRAFT_CPUS = nproc minus this, left to the JVM's GC/JIT threads")
    return ap.parse_args(argv)


def configure_env(args, work: str) -> int:
    """Fit the run to the box through the engine's existing env settings,
    and keep every file the run writes inside the checkout."""
    cpus = max(1, len(os.sched_getaffinity(0)) - args.cpu_reserve)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        # PySpark workers import the engine (pandas UDFs, stateful streams)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path[:0] = [ROOT, HERE]
    return cpus


def percentile_tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least ten
    samples above it (the maximum when there are fewer than eleven)."""
    xs = sorted(values)
    n = len(xs)
    k = max(0, n - 11)
    return xs[k], (100.0 * k / (n - 1) if n > 1 else 100.0), n


def hygiene(spark) -> dict:
    sc = spark.sparkContext
    views = {r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.isTemporary}
    return {"views": views, "streams": len(spark.streams.active),
            "rdds": sc._jsc.getPersistentRDDs().size(), "conf": dict(spark.conf.getAll)}


def hygiene_delta(base: dict, now: dict) -> dict:
    keys = set(base["conf"]) | set(now["conf"])
    return {"hygiene.leaked_views": len(now["views"] - base["views"]),
            "hygiene.active_streams": now["streams"] - base["streams"],
            "hygiene.persisted_rdds": now["rdds"] - base["rdds"],
            "hygiene.conf_drift": sum(1 for k in keys if base["conf"].get(k) != now["conf"].get(k))}


def retained_heap_mb(spark) -> float:
    """JVM heap in use after full GCs.  Spark's ContextCleaner frees
    broadcast and shuffle blocks asynchronously once a GC has cleared their
    references, so collect until the heap in use stops shrinking."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = float("inf")
    for _ in range(8):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        now = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if now > 0.99 * used:
            return min(now, used)
        used = now
    return used


def stop_engine(root_pid: int) -> None:
    """Stop the JVM and wait until every process the run started has ended.

    The JVM is ended through its stdin, on whose EOF the gateway exits and
    runs Spark's shutdown hook (which stops the SparkContext and the Python
    workers).  ``spark.stop()`` is not used: with foreachBatch callbacks
    open it can block forever closing the py4j callback server."""
    from pyspark import SparkContext

    import procstat

    pids = [p for p in procstat.tree_pids(root_pid) if p != root_pid]
    proc = SparkContext._gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def run(args, work: str, cpus: int, spec: dict) -> tuple[dict, dict]:
    import procstat
    import spans as tr
    import workloads

    phase_s: dict[str, float] = {}
    t_phase = time.perf_counter()
    tracer = tr.Tracer()
    wl = workloads.WORKLOADS[args.workload](work, args.seed, tracer)
    wl.generate()
    phase_s["generate"] = time.perf_counter() - t_phase

    from airflow_cms_inpatient_etl_spark.session import get_spark

    setup_s, start_s = [], []

    def set_up(i: int):
        t0 = time.perf_counter()
        spark = get_spark()
        t1 = time.perf_counter()
        wl.stage(spark, i)
        setup_s.append(time.perf_counter() - t0)
        start_s.append(t1 - t0)
        return spark

    spark = set_up(0)
    phase_s["setup"] = setup_s[0]
    upsert_ids = {getattr(wl, "upsert_id", None)}  # the stream the timed rounds feed
    spark.sparkContext.setLogLevel("ERROR")
    root_pid = os.getpid()
    tracer.attach(spark)
    if args.trace:
        tr.install(tracer)
    diag: dict = {"workload": args.workload, "seed": args.seed, "spark_cpus": cpus,
                  "driver_mem": args.driver_mem, "setup_s": setup_s, "session_start_s": start_s,
                  "phase_s": phase_s}

    def run_round(rnd: int, records: list, traced: bool, verify: bool = False) -> tuple[float, float]:
        ops = wl.ops(spark, rnd, verify)
        tracer.active = traced
        cpu0, t_round = procstat.tree_cpu_s(root_pid), time.perf_counter()
        for op in ops:
            t0 = time.perf_counter()
            ok, err = True, None
            try:
                op.fn()
            except Exception as exc:  # counted against ok_frac, never swallowed
                ok, err = False, f"{op.name}: {workloads.error_line(exc)}"
            t = time.perf_counter() - t0
            records.append({"op": op, "t": t, "ok": ok, "err": err, "round": rnd, "traced": traced})
            if traced:
                hyg_max.update({k: max(v, hyg_max.get(k, v)) for k, v in
                                hygiene_delta(hyg_base, hygiene(spark)).items()})
        wall, cpu = time.perf_counter() - t_round, procstat.tree_cpu_s(root_pid) - cpu0
        tracer.active = False
        return wall, cpu

    # ---- warm-up at the measured scale: the verifying round, then a fixed
    # number of noop rounds, so every run is timed at the same point of the
    # JIT's warm-up curve -------------------------------------------------
    t_warm = time.perf_counter()
    warm_records: list[dict] = []
    verify_wall, _ = run_round(-1, warm_records, False, verify=True)
    diag["warmup"] = {"verify_round_s": verify_wall,
                      "verify_op_s": {r["op"].name: r["t"] for r in warm_records if r["round"] == -1}}
    warm_cpu = [run_round(-2 - i, warm_records, False)[1] for i in range(wl.warm_rounds)]
    diag["warmup"].update(s=time.perf_counter() - t_warm, noop_rounds=len(warm_cpu), cpu_s=warm_cpu)

    # ---- measured phase: a fixed number of rounds ------------------------
    rounds = max(2, round(args.seconds / wl.nominal_round_s))
    hyg_base, hyg_max = hygiene(spark), {}
    listener = None
    if args.trace:
        listener = tracer.listener()
        spark.streams.addListener(listener)
    records: list[dict] = []
    walls, cpus_s, traced_flags = [], [], []
    probe0 = procstat.host_probe_s()
    steal0, total0 = procstat.host_cpu_ticks()
    with procstat.PeakRss(root_pid) as rss:
        t_measure = time.perf_counter()
        for rnd in range(rounds):
            if time.perf_counter() - t_measure > 3 * args.seconds:
                break
            traced = bool(args.trace) and rnd % 2 == 1
            first_span, t_epoch = len(tracer.spans), time.time()
            wall, cpu = run_round(rnd, records, traced)
            walls.append(wall)
            cpus_s.append(cpu)
            traced_flags.append(traced)
            if traced:
                tracer.windows.append((t_epoch, time.time()))
                tracer.resolve(tracer.spans[first_span:])
    steal1, total1 = procstat.host_cpu_ticks()
    phase_s["measure"] = time.perf_counter() - t_measure
    probe1 = procstat.host_probe_s()
    if listener is not None:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        time.sleep(0.5)  # python listener callbacks arrive over the py4j callback server
        spark.streams.removeListener(listener)

    t0 = time.perf_counter()
    heap_retained = retained_heap_mb(spark)
    phase_s["heap_gc"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.verify_last(spark)
    phase_s["verify"] = time.perf_counter() - t0

    # the other set-ups: session restarts in the warmed JVM, each followed
    # by the engine's staging of the inputs
    t0 = time.perf_counter()
    for i in range(1, SETUPS):
        spark.stop()
        spark = set_up(i)
        wl.unstage(spark)
    phase_s["resetup"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    stop_engine(root_pid)
    phase_s["stop"] = time.perf_counter() - t0

    # rounds a slowed program did not reach: their operations failed
    samples = wl.samples(records) + [(float("nan"), False)] * ((rounds - len(walls)) * wl.samples_per_round())
    done = [t for t, ok in samples if ok]
    lat = [r_t for r_t, _ in samples if not math.isnan(r_t)]
    tail, tail_pct, n = percentile_tail(lat) if lat else (float("nan"), 0.0, 0)
    wall_s, cpu_s = sum(walls), sum(cpus_s)
    rows = sum(r["op"].rows for r in records if r["ok"] and wl.op_ok(r["op"]))
    errors = sorted({r["err"] for r in warm_records + records if r["err"]} |
                    {f"{k}: {v}" for k, v in wl.verdicts.items() if v})
    diag.update({
        "rounds": rounds, "rounds_done": len(walls), "round_wall_s": walls, "round_cpu_s": cpus_s,
        "op_samples": n, "op_tail_percentile": tail_pct, "op_tail_beyond": max(0, n - 1 - max(0, n - 11)),
        "host_steal_s": (steal1 - steal0) / os.sysconf("SC_CLK_TCK"),
        "host_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "host_probe_s": [probe0, probe1],
        "peak_rss_parts_mb": {k: v / 2**20 if k != "n_workers" else v for k, v in rss.parts.items()},
        "op_p50_by_name": {name: statistics.median(r["t"] for r in records if r["op"].name == name)
                           for name in sorted({r["op"].name for r in records})},
        "errors": errors[:20],
    })

    end_to_end = {
        "setup_s": statistics.median(setup_s),
        "wall_s": wall_s,
        "op_p50_s": statistics.median(lat) if lat else float("nan"),
        "op_tail_s": tail,
        "rows_per_s": rows / wall_s,
        "cpu_s": cpu_s,
        "peak_rss_mb": rss.peak / 2**20,
        "heap_retained_mb": heap_retained,
        "ok_frac": len(done) / max(1, len(samples)),
    }
    attempted, failed = len(samples), len(samples) - len(done)
    if not args.trace:
        metrics = end_to_end
    else:
        traced_wall = [w for w, t in zip(walls, traced_flags) if t]
        plain_wall = [w for w, t in zip(walls, traced_flags) if not t]
        spans = tracer.spans
        layer = tr.layer_metrics(spans, tracer.progress, tracer.windows, upsert_ids)
        totals = tr.spark_totals(spans)
        for key in ("jobs", "stages", *tr.STAGE_FIELDS):
            layer[f"spark.{key}"] = totals.get(key, 0)
        layer["spark.slot_busy_frac"] = totals.get("executor_run_s", 0) / (sum(traced_wall) * cpus)
        dag_bytes = sum(sp.get("spark", {}).get("input_bytes", 0) for sp in spans
                        if sp["parent"] is None and sp["name"].startswith("orchestration.task."))
        layer["files.input_bytes"] = dag_bytes
        dag_runs = sum(1 for r in records if r["traced"] and r["op"].name == "dag")
        layer["files.scans_per_input"] = dag_bytes / (dag_runs * wl.input_bytes) if dag_runs else 0
        layer["session.start_s"] = statistics.median(start_s)
        layer.update(hyg_max)
        layer["trace.overhead_frac"] = (statistics.mean(traced_wall) / statistics.mean(plain_wall)) - 1
        metrics = {m["name"]: layer.get(m["name"], 0) for m in spec["per_layer"]}
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"),
                   {"layer_metrics": layer, "diagnostics": diag})
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": units[m["name"]]} for m in spec[kind]}
    correct = failed == 0 and not errors
    return diag, {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None) -> int:
    faulthandler.register(signal.SIGUSR1)  # `kill -USR1 <pid>` dumps every thread's stack
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")) or not os.path.isfile(spec_path):
        print(f"perfbench: no engine package {ENGINE!r} or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    import_check = os.path.join(HERE, "workloads.py")
    if args.workload not in {w["name"] for w in spec["workloads"]} or not os.path.isfile(import_check):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        cpus = configure_env(args, work)
        diag, result = run(args, work, cpus, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(diag, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)  # the JVM is gone: skip PySpark's atexit hooks, which would call into it
