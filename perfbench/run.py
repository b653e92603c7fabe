#!/usr/bin/env python3
"""Layered benchmark of the jschon_spark validation engine.

    python3 perfbench/run.py --workload clips_audio --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see ``workloads.py``):

* ``clips_audio``   — ``run_validation`` with audio, transcripts and drift
  over the seed's block of 5k violation-injected audio clips.
* ``validate_many`` — compile ``ORDERS_SCHEMA`` and ``CUSTOMER_SCHEMA``
  once, then alternate ``validate()`` requests over cached tables.
* ``clips_resume``  — ``jobs/validate_clips.main --no-audio --manifest``
  over 50k metadata rows, half of the partitions already committed.

``BENCHMARK.json`` lists the two clips workloads only. ``validate_many``
runs the same way and is the one that prints ``request_p50_ms``,
``request_p90_ms`` and ``requests_per_s``, but its per-run pass time
spread more than the contract's bound allows across seeds on a shared
4-core host.

One run generates or reuses the seed's inputs, then starts a session on
``local[<cpus>]`` with cpus from the scheduler affinity (``nproc``),
which launches the JVM, and loads the inputs into it; that cold launch
is reported as ``launch_s``. It then stops the session and sets up
again ``SETUPS`` times in the same JVM: ``setup_s`` is the median time
of a new session plus loading the inputs (stopping the old session is
teardown and not timed). ``setup_s`` counts the CPU seconds of the
process tree (see below); the wall time of the same set-ups is printed
as ``setup_wall_s``. The JVM launch and the warm-up happen once per
process, so they are reported but are not part of ``setup_s``. It warms
until two consecutive passes agree within ``WARM_TOLERANCE``, or until
warming has taken ``--seconds`` and at least the workload's
``WARM_MIN_PASSES``, then measures passes for ``--seconds``
and at least the workload's ``MIN_PASSES``. Every output of every pass
is checked against an oracle that does not use the engine. Peak memory
is sampled over warm-up and measurement.

A pass is timed in wall seconds (``pass_s``, ``rows_per_s``) and in CPU
seconds of the driver, the JVM and its Python workers (``pass_cpu_s``,
read from ``/proc``). ``BENCHMARK.json`` bounds the CPU figures and
prints the wall-time ones as report lines: on a shared virtual machine
the hypervisor takes CPU time from the guest in bursts (steal time,
recorded per pass). On a 4-core guest, in a set of ten runs of
``clips_resume`` the wall time of a pass spread by a third of its
median, and the median wall time of a set-up was 31% above that of an
earlier set, while the CPU figures spread and moved by less than an
eighth.

Before it returns, a run stops the session, the JVM that PySpark
launched (which would otherwise exit only after the interpreter), the
JVM's Python workers and the resource tracker of the input generation
pool, and waits until each has ended (``procs.py``).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the passes alternate between untraced and traced, the
session writes a Spark event log, and the line carries per-layer metrics
(medians over traced passes) plus the tracing overhead: traced minus
untraced passes of that run. The py4j counter is on only in traced
passes, but the event log is on for the whole run, so the overhead
leaves out the event log's cost; the end-to-end ``pass_s`` of a
``--trace 0`` run has neither. Lines before the last are a report with
units and sample counts, and a record of host facts and raw times. The
exit code is non-zero when any output was wrong or the checkout lacks
the program.

Which end-to-end metric each layer should move, and where:

* ``compiler.*`` (compile, Column build, py4j calls) — ``pass_s`` on
  ``validate_many`` (most of a request), a little on ``clips_audio``.
* ``pipeline.*`` (build, jobs, source scans), ``output.*`` and
  ``table_checks.*`` — ``pass_s`` on both clips workloads; scan fusion
  shows as fewer ``pipeline.source_scans``.
* ``catalyst.*`` (analysis/optimization/planning of each sink) —
  ``pass_s`` on ``validate_many``, where it is the planning of the
  query that runs. On the clips workloads every sink is a write, which
  plans its own command around the written DataFrame; there it is a
  separate planning of that DataFrame, a proxy for the write's.
* ``audio.*`` (the ``audio_flag`` sink, Arrow rows, Python time and
  bytes) — ``pass_s`` and ``rows_per_s`` on ``clips_audio`` only; zero
  elsewhere.
* ``manifest.*`` (pending frontier, commit, parquet files of the clips
  table read by all scans of a pass ÷ files in the table) — ``pass_s``
  on ``clips_resume`` only.
* ``spark.*`` (task metrics per pass) — ``spark.gc_s`` tracks
  ``peak_rss_mb``; input and shuffle bytes track ``pass_s`` on
  ``clips_resume``.

``bench.py`` and ``BENCH_r01``–``r05`` report best-of-2 wall times at
``local[32]`` on another host; their numbers are not comparable with
this benchmark's.
"""

from __future__ import annotations

import argparse
import glob
import itertools
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 5
WARM_TOLERANCE = 0.25
WARM_MAX_PASSES = 6
DRIVER_MEM = "2g"


def _program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("jschon_spark/__init__.py", "jobs/validate_clips.py", "__spark_entry__.py")
    )


def _environment(work: str) -> None:
    """Everything the session and its Python workers need, set before the
    JVM starts: the checkout on the workers' path, scratch space inside
    the checkout, and a bounded driver heap."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _host_facts(spark, cpus: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    jvm = spark.sparkContext._jvm.System
    return {
        "nproc": cpus,
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _contract() -> dict:
    """BENCHMARK.json: the metric names and units this run must report."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _parquet_files(path: str) -> int:
    if os.path.isfile(path):
        return 1
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _layer_metrics(workload, traced: list, totals: dict) -> dict:
    """Per traced pass: tracer values plus event-log totals of its job
    groups; returns the median of each per-layer metric."""
    n_files = _parquet_files(workload.source())
    per_pass = []
    for group, values, jobs in traced:
        rec = dict(values)
        rec["pipeline.jobs"] = jobs
        mine = [t for g, t in totals.items() if g == group or g.startswith(group + "/")]
        rec["spark.tasks"] = sum(t.tasks for t in mine)
        for key in ("executor_run_s", "executor_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes", "output_bytes"):
            rec[f"spark.{key}"] = sum(getattr(t, key) for t in mine)
        rec["audio.python_s"] = sum(t.python["python_s"] for t in mine)
        rec["audio.python_bytes_sent"] = sum(t.python["python_bytes_sent"] for t in mine)
        rec["audio.rows"] = sum(t.python["python_rows"] for t in mine)
        scans = [files for t in mine for files in t.source_scans(workload.source())]
        rec["pipeline.source_scans"] = len(scans)
        rec["manifest.files_read_ratio"] = sum(scans) / n_files
        per_pass.append(rec)
    keys = {k for r in per_pass for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in per_pass) for k in keys}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not _program_present():
        print(f"perfbench: {ROOT} does not hold the jschon_spark program", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"run-{os.getpid()}")
    cache_dir = os.path.join(WORK, "inputs")
    os.makedirs(cache_dir, exist_ok=True)
    _environment(work)
    from perfbench.procs import stop_all

    # a terminated run still stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    try:
        return _run(args, work, cache_dir)
    finally:
        # the JVM, its workers and the generation pool's resource tracker
        # would otherwise outlive the run
        stop_all()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cache_dir: str) -> int:
    from perfbench import stats
    from perfbench.eventlog import read_event_log
    from perfbench.tracing import Py4jCounter, Tracer
    from perfbench.workloads import WORKLOADS, PassResult

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from jschon_spark.session import get_session

    workload = WORKLOADS[args.workload]()
    contract = _contract()
    cpus = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "eventlog")
    conf = {"spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"]}
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            # Spark 4 rolls event logs into directories by default
            "spark.eventLog.rolling.enabled": "false",
        })

    def session():
        return get_session(cpus=cpus, app_name=f"perfbench-{workload.name}", extra_conf=conf)

    attempted = failed = 0
    errors: list[str] = []

    def run_pass(group, tracer=None):
        nonlocal attempted, failed
        steal0 = stats.steal_s()
        try:
            res = workload.run_pass(spark, group, tracer)
        except Exception:  # a failed operation is counted, and the run goes on
            traceback.print_exc()
            res = PassResult(float("nan"), float("nan"), 0, [], errors=["raised"])
        res.steal_s = stats.steal_s() - steal0
        ops = max(1, len(res.requests))
        attempted += ops
        if res.errors:
            failed += ops
            errors.extend(f"{group}: {e}" for e in res.errors)
        return res

    meta = workload.prepare(cache_dir, work, args.seed, cpus)
    with stats.RssSampler(os.getpid()) as rss:
        t0 = time.perf_counter()
        spark = session()
        workload.load(spark)
        launch_s = time.perf_counter() - t0
        setups, setups_cpu = [], []
        for _ in range(SETUPS):
            spark.stop()
            start = stats.clock()
            spark = session()
            workload.load(spark)
            wall, cpu = stats.since(start)
            setups.append(wall)
            setups_cpu.append(cpu)
        facts = _host_facts(spark, cpus)
        gateway = spark.sparkContext._gateway._gateway_client
        rss.reset()

        counter = itertools.count()
        warm = stats.warm_until_steady(
            lambda: run_pass(f"w{next(counter)}-u").seconds,
            WARM_TOLERANCE, WARM_MAX_PASSES, args.seconds, workload.WARM_MIN_PASSES,
        )

        # with tracing, odd passes are traced and even ones are not, so the
        # run measures its own tracing overhead
        plain, traced, traced_secs, traced_requests = [], [], [], []
        t_start = time.perf_counter()
        for i in itertools.count():
            enough = len(plain) >= workload.MIN_PASSES and (not args.trace or len(traced) >= workload.MIN_PASSES)
            if enough and time.perf_counter() - t_start >= args.seconds:
                break
            if args.trace and i % 2 == 1:
                with Py4jCounter(gateway) as py4j:
                    tracer = Tracer(py4j)
                    res = run_pass(f"m{i}-t", tracer)
                status = spark.sparkContext.statusTracker()
                jobs = sum(len(status.getJobIdsForGroup(g)) for g in res.groups)
                traced.append((f"m{i}-t", tracer.values, jobs))
                traced_secs.append(res.seconds)
                traced_requests.extend(res.requests)
            else:
                plain.append(run_pass(f"m{i}-u"))
        rss.sample()
        peak_rss_mb = rss.peak_bytes / 2**20
        spark.stop()

    pass_s = [r.seconds for r in plain]
    pass_cpu_s = [r.cpu_s for r in plain]
    rows_per_s = [r.rows / r.seconds for r in plain]
    requests = [s for r in plain for s in r.requests]
    setup = stats.summarize(setups_cpu)
    passes = stats.summarize(pass_s)
    report = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace, "host": facts,
        "inputs_generate_s": meta.get("generate_s", 0.0),
        "inputs_cache_hit": meta.get("cache_hit"), "warmup_passes": len(warm), "warmup_s": warm,
        "setups_s": setups, "setups_cpu_s": setups_cpu, "passes_s": pass_s,
        "passes_cpu_s": pass_cpu_s, "passes_steal_s": [r.steal_s for r in plain],
    }
    metrics = {
        "setup_s": (setup["p50"], "s", setup["n"]),
        "setup_wall_s": (statistics.median(setups), "s", len(setups)),
        "launch_s": (launch_s, "s", 1),
        "warmup_s": (sum(warm), "s", len(warm)),
        "pass_s": (passes["p50"], "s", passes["n"]),
        "pass_cpu_s": (statistics.median(pass_cpu_s), "s", len(pass_cpu_s)),
        "rows_per_s": (statistics.median(rows_per_s), "1/s", len(rows_per_s)),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
    }
    if requests:
        req = stats.summarize(requests)
        metrics["request_p50_ms"] = (req["p50"] * 1e3, "ms", req["n"])
        metrics["request_p90_ms"] = (stats.percentile(requests, 90.0) * 1e3, "ms", req["n"])
        metrics["requests_per_s"] = (len(requests) / sum(requests), "1/s", req["n"])
        if req["tail_p"] is not None:
            metrics[f"request_p{req['tail_p']:g}_ms"] = (req["tail"] * 1e3, "ms", req["n"])
    if passes["tail_p"] is not None:
        metrics[f"pass_p{passes['tail_p']:g}_s"] = (passes["tail"], "s", passes["n"])
    metrics["error_rate"] = (failed / max(attempted, 1), "ratio", attempted)

    for name, (value, unit, n) in metrics.items():
        print(json.dumps({"metric": name, "value": value, "unit": unit, "n": n}))
    print(json.dumps({"record": report}))
    for e in errors[:20]:
        print(f"perfbench: wrong output: {e}", file=sys.stderr)

    if args.trace:
        layers = _layer_metrics(workload, traced, read_event_log(event_dir))
        layers["trace.pass_s"] = statistics.median(traced_secs)
        layers["trace.overhead_pass_s"] = layers["trace.pass_s"] - passes["p50"]
        if requests:
            layers["trace.overhead_request_ms"] = (statistics.median(traced_requests) - statistics.median(requests)) * 1e3
        layers["warmup.passes"] = len(warm)
        layers["inputs.generate_s"] = meta.get("generate_s", 0.0)
        out = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]} for m in contract["per_layer"]}
    else:
        out = {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]} for m in contract["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
