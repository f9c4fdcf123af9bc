"""Benchmark entry point.

    python3 perfbench/run.py --workload ml_iterative --seed 1 --seconds 10 --trace 0

Runs one workload of ``workloads.py`` in a closed loop on one driver
thread against ``session.get_spark(cpus=nproc)``, checks every output,
and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (tracing off); with ``--trace 1``
the per-layer ones, from spans recorded around calls into the engine's
modules and from the Spark event log. See perfbench/README.md.

Everything it writes goes under ``.perfbench/`` in the checkout: the
generated inputs, Spark's local and event-log directories, and one
result file per run with the regime stamp, per-operation times and,
when traced, the spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layer name -> engine module whose public functions open spans of it
TRACED_MODULES = {
    "readers": "ml_data_wrangler_spark.sources.readers",
    "sinks": "ml_data_wrangler_spark.sources.sinks",
    "operators.wrangle": "ml_data_wrangler_spark.operators.wrangle",
    "operators.nlp": "ml_data_wrangler_spark.operators.nlp",
    "operators.vectorize": "ml_data_wrangler_spark.operators.vectorize",
    "operators.lda": "ml_data_wrangler_spark.operators.lda",
    "operators.similarity": "ml_data_wrangler_spark.operators.similarity",
    "operators.dedup": "ml_data_wrangler_spark.operators.dedup",
    "functions.driver_exact": "ml_data_wrangler_spark.functions.driver_exact",
}
# per-layer metrics that are inclusive span seconds of one layer
LAYER_SECONDS = ("operators.wrangle", "operators.nlp", "operators.vectorize", "operators.lda",
                 "operators.similarity", "operators.dedup", "functions.driver_exact")


def _die(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _source_digest() -> str:
    """sha256 over the engine's Python sources: identifies the code
    measured where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ml_data_wrangler_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as fh:
            return fh.read().strip()
    return None


def regime(spark, cpus: int, load_at_start: tuple[float, float, float]) -> dict:
    import pyspark

    return {
        "nproc": cpus,
        "mem_total_mb": round(_meminfo_kb("MemTotal") / 1024),
        "loadavg_at_start": load_at_start,
        "spark_driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g"),
        "spark_master": spark.sparkContext.master,
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "commit": _commit(),
        "engine_sha": _source_digest(),
    }


def _dir_size(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process waiting to be reaped
    by its new parent counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rpartition(")")[2].split()[0] not in ("Z", "X")
    except (FileNotFoundError, ProcessLookupError):
        return False


def _stop_jvm(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait for it and every process it
    started to exit."""
    from pyspark import SparkContext

    from perfbench import procfs

    tree = set(procfs.descendants(os.getpid())) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    # Python workers the JVM forked outlive it by a moment
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + timeout / 2
        for pid in tree:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                continue
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.02)


def measure(spark, wl, seed: int, seconds: float, tracer):
    """Closed loop: whole passes over the workload's operations, each
    pass in a seeded order, until ``seconds`` have passed. Returns
    (per-op durations, per-op outputs with None for an operation that
    raised, exception lines, passes, elapsed)."""
    rng = random.Random(seed)
    durations: dict[str, list[float]] = {op.name: [] for op in wl.ops}
    outputs: dict[str, list] = {op.name: [] for op in wl.ops}
    errors: list[str] = []
    passes = 0
    start = time.perf_counter()
    while passes == 0 or time.perf_counter() - start < seconds:
        for op in wl.pass_order(rng):
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op.name):
                    out = op.run(spark, tracer)
            except Exception as e:  # a failed operation is counted, not fatal
                errors.append(f"{op.name}[{len(outputs[op.name])}]: "
                              f"{type(e).__name__}: {str(e)[:300]}")
                out = None
            durations[op.name].append(time.perf_counter() - t0)
            outputs[op.name].append(out)
        passes += 1
    return durations, outputs, errors, passes, time.perf_counter() - start


def layer_metrics(tracer, log, passes: int, wall_total: float,
                  cpus: int) -> tuple[dict[str, float], dict[str, float]]:
    """Per-pass per-layer metrics from the spans and the event log, and
    per-pass self time by span name."""
    from perfbench import eventlog
    from perfbench.spans import ancestors, attribute_jobs, self_times, union_length

    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def outermost(name):
        # spans of ``name`` with no ancestor of the same name
        return [s for s in spans if s.name == name
                and not any(a.name == name for a in ancestors(by_id, s.parent))]

    def secs(name):
        return sum(s.end - s.start for s in outermost(name))

    owner = attribute_jobs(spans, {j.id: j.submit_ms / 1e3 for j in log.jobs.values()})
    job_layers = {jid: {s.name for s in ancestors(by_id, sid)}
                  for jid, sid in owner.items() if sid is not None}
    stage_job = eventlog.stage_owner(log)
    tasks = [t for t in log.tasks if stage_job.get(t.stage) in job_layers]
    tm = eventlog.task_metrics(tasks)

    busy = union_length([(log.jobs[j].submit_ms / 1e3, log.jobs[j].end_ms / 1e3)
                         for j in job_layers])

    def jobs_in(layer):
        return sum(1 for layers in job_layers.values() if layer in layers)

    st = self_times(spans)
    self_sum = sum(st.values())
    per = 1.0 / passes
    build = secs("plans")
    m = {
        "readers.calls": len(outermost("readers")) * per,
        "readers.s": secs("readers") * per,
        "readers.jobs": jobs_in("readers") * per,
        "plans.build_s": build * per,
        "plans.build_jobs": jobs_in("plans") * per,
        "plans.build_share": build / wall_total if wall_total else 0.0,
        "sinks.s": secs("sinks") * per,
    }
    for layer in LAYER_SECONDS:
        m[f"{layer}.s"] = secs(layer) * per
    m["operators.lda.jobs"] = jobs_in("operators.lda") * per
    m["driver.self_s"] = (wall_total - busy) * per
    m["spark.jobs"] = len(job_layers) * per
    for key in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "result_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        m[f"spark.{key}"] = tm[key] * per
    m["spark.task_skew"] = tm["task_skew"]
    m["spark.core_idle_ratio"] = 1.0 - tm["run_s"] / (wall_total * cpus) if wall_total else 0.0
    m["trace.wall_s"] = wall_total * per
    m["trace.self_s"] = self_sum * per
    self_by_layer: dict[str, float] = {}
    for s in spans:
        self_by_layer[s.name] = self_by_layer.get(s.name, 0.0) + st[s.id]
    return m, {k: v * per for k, v in sorted(self_by_layer.items())}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    for need in ("ml_data_wrangler_spark/session.py", "tests/oracle_harness.py",
                 "tests/stage_audit.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return _die(f"{need} not found under {ROOT}: run from a checkout of the engine")

    # import the benchmark as a package from the checkout root, never
    # its modules by bare name (``tables`` would shadow PyTables)
    sys.path[0] = ROOT
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        return _die(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")

    load_at_start = os.getloadavg()
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join([ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        # spark-submit's launcher JVM would write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS="-XX:+PerfDisableSharedMem",
        DUCKDB_MEMORY_LIMIT="2GB",
    )
    try:
        return _run(args, work, run_dir, load_at_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, run_dir: str, load_at_start) -> int:
    from ml_data_wrangler_spark.session import get_spark
    from perfbench import procfs, workloads
    from perfbench.spans import NullTracer, Tracer

    wl = workloads.make(args.workload)
    wl.prepare(work, run_dir, args.seed)

    cpus = _nproc()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temporary files, and its perf-counter file that
        # would otherwise go to /tmp/hsperfdata_*, inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp "
                                         "-XX:+PerfDisableSharedMem",
    }
    if args.trace:
        from tests.stage_audit import event_log_conf

        conf.update(event_log_conf(os.path.join(run_dir, "events")))
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.includeTaskMetricsAccumulators"] = "false"

    # one cold set-up, as a CLI invocation pays it: JVM launch and
    # session start, then the workload's warm-up
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
    t1 = time.perf_counter()
    wl.bind()
    wl.warm_up(spark)
    t2 = time.perf_counter()
    setup = {"session_start_s": t1 - t0, "warmup_s": t2 - t1}
    spark.sparkContext.setLogLevel("ERROR")
    stamp = regime(spark, cpus, load_at_start)
    print(f"perfbench: regime {json.dumps(stamp)}", file=sys.stderr)

    tracer = NullTracer()
    if args.trace:
        import importlib

        tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
        tracer.instrument({k: importlib.import_module(v) for k, v in TRACED_MODULES.items()},
                          "ml_data_wrangler_spark")

    cpu0 = procfs.tree_cpu(os.getpid())
    durations, outputs, errors, passes, elapsed = measure(
        spark, wl, args.seed, args.seconds, tracer)
    cpu1 = procfs.tree_cpu(os.getpid())
    rss = {"driver": procfs.vm_hwm_mb(os.getpid()),
           "jvm": sum(procfs.vm_hwm_mb(j) for j in procfs.java_children(os.getpid()))}
    if args.trace:
        tracer.restore()

    t_check = time.perf_counter()
    problems = errors + wl.check(spark, outputs, stamp)
    t_check = time.perf_counter() - t_check
    attempted = sum(len(v) for v in durations.values())
    # a problem line starts "<op>[<attempt>]:"; an attempt fails once
    failed = min(attempted, len({p.split(":", 1)[0] for p in problems}))
    for line in problems:
        print(f"perfbench: FAIL {line}", file=sys.stderr)

    wall_s = sum(statistics.median(v) for v in durations.values())
    wall_total = sum(sum(v) for v in durations.values())
    sinks_files, sinks_bytes = 0, 0
    for d in wl.output_dirs():
        f, b = _dir_size(d)
        sinks_files, sinks_bytes = sinks_files + f, sinks_bytes + b

    app_id = spark.sparkContext.applicationId
    t_stop = time.perf_counter()
    _stop_jvm(spark)
    t_stop = time.perf_counter() - t_stop
    print(f"perfbench: check {t_check:.2f}s stop {t_stop:.2f}s", file=sys.stderr)

    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "regime": stamp, "passes": passes, "elapsed_s": elapsed,
        "setup": setup, "durations": durations, "problems": problems, "peak_rss_mb": rss,
        "fail_ratio": failed / attempted,
    }
    correct = failed == 0
    if args.trace:
        from perfbench import eventlog
        from tests.stage_audit import _event_lines

        log = eventlog.parse(_event_lines(os.path.join(run_dir, "events"), app_id))
        metrics, self_by_layer = layer_metrics(tracer, log, passes, wall_total, cpus)
        metrics["session.start_s"] = setup["session_start_s"]
        metrics["session.warmup_s"] = setup["warmup_s"]
        metrics["sinks.bytes"] = sinks_bytes / passes
        metrics["sinks.files"] = sinks_files / passes
        metrics["udf.python_cpu_s"] = (cpu1[1] - cpu0[1]) / passes
        metrics["peak_rss_mb"] = rss["driver"] + rss["jvm"]
        # self times of all spans must account for the traced wall time
        if not math.isclose(metrics["trace.self_s"], metrics["trace.wall_s"],
                            rel_tol=1e-3, abs_tol=1e-3):
            print("perfbench: FAIL span self times do not add up to the traced wall time",
                  file=sys.stderr)
            correct = False
        result["self_s_by_layer"] = self_by_layer
    else:
        metrics = {
            "setup_s": setup["session_start_s"] + setup["warmup_s"],
            "wall_s": wall_s,
            "cpu_s": (cpu1[0] - cpu0[0]) / passes,
        }
    result["metrics"] = metrics
    stem = os.path.join(work, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                                          f"{int(time.time())}-{os.getpid()}")
    with open(stem + ".json", "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    if args.trace:
        with open(stem + "-spans.jsonl", "w") as fh:
            for s in tracer.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(metrics):
        return _die(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
    for name in sorted(metrics):
        print(f"perfbench: {args.workload} {name} = {metrics[name]:.6g} {units.get(name, '')}",
              file=sys.stderr)
    print(f"perfbench: {args.workload} passes = {passes}, fail_ratio = {failed}/{attempted}, "
          f"peak RSS driver {rss['driver']:.0f} MiB + JVM {rss['jvm']:.0f} MiB", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
