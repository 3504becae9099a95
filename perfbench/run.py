"""Benchmark entry point.

    python3 perfbench/run.py --workload radolan_day --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the program under test is the
``radohydro_spark`` package next to this directory, driven from this one
Python process on ``local[N]`` (N = the CPUs this process may use, or
``$SPARK_GRAFT_CPUS``).  Inputs are generated from ``--seed`` into a scratch
directory under ``.perfbench/`` that is deleted at exit; a record of the run
(timings, canary, spans) is left in ``.perfbench/records/``.

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace 1``
runs the workload once untraced and once layer by layer in a separate,
event-logged session and reports the per-layer metrics.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.  ``BENCHMARK.json`` at the checkout root lists the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def canary(spark) -> float:
    """``bench.py``'s fixed pure-CPU tenancy canary: 10M-row integer
    arithmetic and a 1000-key groupBy, no I/O and no Python workers."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 10_000_000, 1, spark.sparkContext.defaultParallelism)
        .select(
            (F.col("id") % 1000).alias("k"),
            ((F.col("id") * 2654435761) % 104729).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .agg(F.sum("s").alias("t"), F.sum("n").alias("m"))
        .collect()
    )
    return time.perf_counter() - t0


def start_session(conf: dict[str, str]):
    """The process's first session, as the CLI starts it: JVM launch,
    ``get_spark()`` and the first trivial job.  Returns (spark, seconds)."""
    from radohydro_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """Close the JVM's stdin -- its gateway exits on EOF -- and wait for it,
    so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Runner:
    """Runs workload calls, checks each output and counts failures."""

    def __init__(self, wl, work: str) -> None:
        self.wl = wl
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.digests: set[str] = set()
        self.self_test_ok: bool | None = None

    def attempt(self, spark) -> float | None:
        """One timed call; returns its wall time, or None if it raised.  A
        call whose output fails a check keeps its time but counts as failed."""
        from radohydro_spark.plans.pipeline import release_persisted

        self.attempted += 1
        out_dir = os.path.join(self.work, f"out-{self.attempted}")
        t0 = time.perf_counter()
        try:
            output = self.wl.run(spark, out_dir)
            elapsed = time.perf_counter() - t0
        except Exception:
            self.fail(f"call {self.attempted} raised:\n{traceback.format_exc()}")
            return None
        finally:
            # outside the timed region: every call pays its own persist fill
            release_persisted()
        problems = self.cold_problems(spark)
        if self.self_test_ok is None:
            self.self_test_ok = self.wl.self_test(output)
            if not self.self_test_ok:
                problems.append("self-test: the check accepted a perturbed output")
        found, dig = self.wl.check(output)
        problems += found
        self.digests.add(dig)
        if len(self.digests) > 1:
            problems.append(f"result digest changed between calls: {sorted(self.digests)}")
        if problems:
            self.fail(f"call {self.attempted}: " + "; ".join(problems))
        return elapsed

    def cold_problems(self, spark) -> list[str]:
        """Every call must start cache-cold, so nothing may stay persisted."""
        n = spark.sparkContext._jsc.getPersistentRDDs().size()
        if n == 0:
            return []
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        return [f"{n} persisted RDDs remained after release_persisted()"]

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        print(msg, file=sys.stderr)


def measure(wl, runner: Runner, work: str, seconds: float, rec: dict) -> dict:
    """End-to-end metrics with tracing off."""
    from spans import session_conf

    spark, setup = start_session(session_conf(work))
    try:
        # like the CLI: the first call follows the session start directly
        first = runner.attempt(spark)
        rec["canary_start_s"] = canary(spark)
        # at least two warm calls: the first still pays JIT warm-up (10-25 %
        # slow, by an amount that varies per process), and a neighbour's load
        # spike can hit either, so run_s is the fastest warm call
        warm: list[float] = []
        t0 = time.perf_counter()
        while len(warm) < 2 or time.perf_counter() - t0 < seconds:
            t = runner.attempt(spark)
            if t is not None:
                warm.append(t)
            elif runner.failed > 2:
                break
        rec["canary_end_s"] = canary(spark)
    finally:
        spark.stop()
    rec.update(first_run_s=first, warm_runs_s=warm)
    if first is None or len(warm) < 2:
        raise RuntimeError("too few successful calls to time")
    return {
        "run_s": (min(warm), "s"),
        "input_rows_per_s": (wl.input_rows / min(warm), "1/s"),
        "first_run_s": (first, "s"),
        "setup_s": (setup, "s"),
    }


def traced(wl, runner: Runner, work: str, rec: dict) -> dict:
    """Per-layer metrics: the first call and two warm calls untraced (the
    fastest warm call, as ``run_s``, is the reference), then the
    layer-by-layer composition in a separate, event-logged session.  Its
    output is checked after the timed region, like every call's."""
    import layers
    from spans import (
        PeakRss,
        Span,
        Tracer,
        python_worker_peak_rss_mb,
        read_event_log,
        session_conf,
    )

    from radohydro_spark import get_spark
    from radohydro_spark.plans.pipeline import release_persisted

    spark, _ = start_session(session_conf(work))
    try:
        runner.attempt(spark)
        rec["canary_start_s"] = canary(spark)
        warm = [t for t in (runner.attempt(spark), runner.attempt(spark)) if t is not None]
        rec["canary_end_s"] = canary(spark)
    finally:
        spark.stop()
    if not warm:
        raise RuntimeError("no untraced warm call succeeded")
    untraced = min(warm)
    log_dir = os.path.join(work, "event-log")
    t_start = time.time()
    spark = get_spark("perfbench", extra_conf=session_conf(work, log_dir))
    tracer = Tracer(spark.sparkContext)
    session = Span("session", None, t_start, build_end=time.time(), _tracer=tracer)
    tracer.spans.append(session)
    try:
        with PeakRss(spark.sparkContext._gateway.proc.pid) as jvm_rss:
            tracer.set_group("session|run")
            spark.range(1).count()
            session.end = time.time()
            tracer.set_group("aux")
            t0 = time.perf_counter()
            output = wl.traced(spark, tracer, os.path.join(work, "out-traced"))
            total = time.perf_counter() - t0
        session.count("jvm_peak_rss_mb", jvm_rss.peak_mb)
        session.count("py_worker_peak_rss_mb", python_worker_peak_rss_mb(spark.sparkContext))
        release_persisted()
    finally:
        spark.stop()
    runner.attempted += 1
    problems, dig = wl.check(output)
    if problems:
        runner.fail("traced composition: " + "; ".join(problems))
    elif dig not in runner.digests:
        runner.fail(
            f"traced composition digest {dig} differs from the untraced call's "
            f"{sorted(runner.digests)}"
        )
    log = read_event_log(log_dir)
    rec.update(untraced_run_s=untraced, traced_total_s=total, spans=tracer.record())
    metrics = layers.per_layer(tracer, log)
    metrics["trace_overhead_s"] = (total - untraced, "s")
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "radohydro_spark", "__init__.py")):
        print(f"no radohydro_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    for sub in ("tmp", "spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    rec: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](os.path.join(work, "inputs"), args.seed)
        rec["generate_s"] = time.perf_counter() - t0
        runner = Runner(wl, work)
        if args.trace:
            metrics = traced(wl, runner, work, rec)
        else:
            metrics = measure(wl, runner, work, args.seconds, rec)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    rec["problems"] = runner.problems
    rec["metrics"] = metrics
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, "records", name), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    summary = {k: v for k, v in rec.items() if k != "spans"}
    summary["error_rate"] = runner.failed / runner.attempted
    print(json.dumps(summary, default=str), file=sys.stderr)
    for key, (value, unit) in metrics.items():
        print(f"{key} {value} {unit}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": runner.failed == 0 and bool(runner.self_test_ok),
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
