"""Benchmark of the web-text quality-filter engine.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_html_resume --seed 1 --seconds 8 --trace 0

Workloads (see ``workloads.py``): ``crawl_html_resume`` and ``dedup_battery``.
A run generates its inputs from ``--seed``, starts Spark at ``local[N]`` with
N the CPUs this process may use, sets up (session, models, warm-up), then runs
the workload's job in a closed loop for ``--seconds`` and at least
``MIN_JOBS`` jobs, and checks every job's output. The last line of stdout is
one JSON object: ``correct``, ``attempted`` (jobs), ``failed`` (jobs that
raised or whose output failed its check) and ``metrics``, which holds the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0`` and its
``per_layer`` metrics with ``--trace 1``. The line before it carries the
run's context (cores, hypervisor steal, job times, phase times, RSS peaks).

The traced run adds spans around every call into a layer (kept in memory and
written to ``.perfbench/trace-<workload>-<seed>.json`` at exit), reads Spark's
SQL status store for the Python-boundary, write and shuffle counters, runs a
ladder of cumulative noop cuts for the per-layer stage times, and reports
the time the spans and status reads took inside the jobs as the tracing
overhead.

Everything the run writes stays under ``.perfbench/`` in the working
directory, and the JVM with its Python workers is stopped before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

from tracing import Tracer, TreeSampler, cpu_times, steal_pct, tree_pids

WATCHDOG_S = 170  # a run must end within 180 s, results or not
# the first job after set-up runs ~1.5x slower than the rest (JIT, codegen,
# first writes): every run times at least two more
MIN_JOBS = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def new_session(cores: int, tmp: str):
    from language_identification_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            # keep every temporary file inside the working directory
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def stop_jvm() -> None:
    """Stop Spark (which stops its Python workers), then the JVM, and wait
    until it has exited."""
    from pyspark import SparkContext

    proc = jvm_process()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_watchdog() -> threading.Timer:
    def fire():
        print(f"perfbench: no result after {WATCHDOG_S} s, stopping", file=sys.stderr)
        proc = jvm_process()
        if proc is not None:
            for pid in reversed(tree_pids(proc.pid)):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            proc.wait()
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, fire)
    timer.daemon = True
    timer.start()
    return timer


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def metric_specs(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """(end_to_end, per_layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def run_job(wl, ctx, models, index):
    """One job; an exception is recorded as a failed job, not raised."""
    from workloads import Job

    try:
        return wl.job(ctx, models, index)
    except Exception:  # noqa: BLE001 — the loop goes on; the job counts as failed
        return Job(index, error=traceback.format_exc(limit=3))


def measure(wl, args, work: str, tracer: Tracer) -> tuple[dict, dict]:
    import workloads

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    ctx = workloads.Ctx(None, cores, work, args.seed, tracer, None, None)
    marks = {"start": time.perf_counter()}
    with tracer.span("inputs.generate"):
        wl.prepare(ctx)
    marks["inputs"] = time.perf_counter()
    with tracer.span("session.start"):
        ctx.spark = new_session(cores, tmp)
    marks["session"] = time.perf_counter()
    with TreeSampler(jvm_process().pid) as sampler:
        ctx.sampler = sampler
        with tracer.span("models.train"):
            models = wl.train()
        marks["models"] = time.perf_counter()
        with tracer.span("warmup.workers"):
            wl.warm(ctx, models)
        marks["warmup"] = time.perf_counter()
        if tracer.enabled:
            from sparkstats import SparkStats

            ctx.stats = SparkStats(ctx.spark)
        sampler.reset()
        overhead0 = tracer.overhead_s
        stat0, t0 = cpu_times(), time.perf_counter()
        jobs, job_cpu = [], []
        while len(jobs) < MIN_JOBS or time.perf_counter() - t0 < args.seconds:
            c0 = sampler.cpu_seconds()
            jobs.append(run_job(wl, ctx, models, len(jobs)))
            job_cpu.append(sampler.cpu_seconds() - c0)
        wall = time.perf_counter() - t0
        overhead_s = tracer.overhead_s - overhead0
        stat1 = cpu_times()
        peaks = sampler.peak_mb, sampler.peak_children_mb
        marks["measure"] = time.perf_counter()

        ledger: dict[str, float] = {}
        if tracer.enabled:
            with tracer.span("ledger"):
                # the warm jobs only: the first one runs cold
                ledger = wl.ledger(ctx, models, [j for j in jobs[1:] if not j.error])
            # what the spans and the status-store reads made inside the jobs
            # cost them, measured directly: an A/B of a traced against an
            # untraced job could not resolve it under the job-to-job spread
            ledger["trace.overhead_pct"] = 100.0 * overhead_s / wall
        with tracer.span("check"):
            wl.check(ctx, models, [j for j in jobs if not j.error])
        marks["check"] = time.perf_counter()

    for j in jobs:
        if j.error:
            print(f"perfbench: job {j.index} failed: {j.error}", file=sys.stderr)
    # medians over the warm jobs: the first one runs cold
    warm = [(j, c) for j, c in zip(jobs[1:], job_cpu[1:]) if not j.error]
    end_to_end = {
        "docs_per_s": median([j.docs / j.seconds for j, _ in warm]),
        # inputs are generated before set-up starts and are not part of it
        "setup_s": marks["warmup"] - marks["inputs"],
        "core_s_per_doc": median([c / j.docs for j, c in warm]),
    }
    ledger.update(
        {
            "session.start_s": marks["session"] - marks["inputs"],
            "models.train_s": marks["models"] - marks["session"],
            "session.warmup_s": marks["warmup"] - marks["models"],
            "steal_pct": steal_pct(stat0, stat1),
            "core_util": sum(job_cpu) / (wall * cores),
            "tree_peak_rss_mb": peaks[0],
            "py_peak_rss_mb": peaks[1],
            "cores": float(cores),
        }
    )
    context = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": cores,
        "steal_pct": ledger["steal_pct"],
        "core_util": ledger["core_util"],
        "job_seconds": [j.seconds for j in jobs],
        "phase_seconds": {
            k: marks[k] - marks[prev] for prev, k in zip(list(marks), list(marks)[1:])
        },
        "attempted": len(jobs),
        "failed": sum(1 for j in jobs if j.error),
        "peak_rss_mb": peaks[0],
        "peak_workers_rss_mb": peaks[1],
    }
    return {"end_to_end": end_to_end, "ledger": ledger}, context


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "language_identification_spark", "__init__.py")):
        print("perfbench: run from the repository root (no language_identification_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    end_units, layer_units = metric_specs(root)

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    watchdog = start_watchdog()
    tracer = Tracer(args.trace == 1)
    result = context = None
    try:
        with tracer.span("run"):
            result, context = measure(workloads.WORKLOADS[args.workload](), args, work, tracer)
    finally:
        stop_jvm()
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
        values = dict(result["ledger"])
        for layer, s in tracer.self_seconds().items():
            values[f"self.{layer}_s"] = s
        units = layer_units
    else:
        values, units = result["end_to_end"], end_units
    print(json.dumps(context))
    print(json.dumps({
        "correct": context["failed"] == 0,
        "attempted": context["attempted"],
        "failed": context["failed"],
        "metrics": {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
