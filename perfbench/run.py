#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine's public query functions.

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 5 --trace 0

Run from the repository root.  One client runs the workload's queries one
after another (a closed loop) on ``local[<cpus>]``.  Each call is timed in
two phases: *build* is the query function itself, including every eager
job it runs; *exec* forces the returned DataFrame into the ``noop`` sink.

A run generates its inputs from ``--seed``, sets up a session, runs one
cold pass, then warm passes for at least ``--seconds`` and at least four
passes, checks every query's output against its DuckDB oracle, and sets
the session up again ``SETUPS - 1`` times.  ``--trace 1`` then adds one traced
pass between two untraced ones and reports per-layer metrics instead of
the end-to-end ones.  Every line of standard output is JSON;
the last one is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from workloads import ARTIFACT_BUILDS, WORKLOADS, resolve

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5
WARM_PASSES = 4
RSS_INTERVAL_S = 0.2


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class PeakRss:
    """Peak resident memory of this process tree while the block runs,
    sampled by ``rss.py`` in a child process."""

    def __enter__(self) -> PeakRss:
        self._proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "rss.py"), str(os.getpid()),
             str(RSS_INTERVAL_S)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.peak = 0
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(input="stop\n", timeout=60)
        self.peak = int(out)


class Pass:
    """One pass over a workload's queries."""

    def __init__(self):
        self.start = self.end = 0.0
        # (name, start, built, done) epoch seconds per call
        self.calls: list[tuple[str, float, float, float]] = []
        self.frames: dict = {}
        self.errors: dict[str, str] = {}

    @property
    def wall(self) -> float:
        return self.end - self.start


def run_pass(spark, calls, sf_dir: str, tracer=None) -> Pass:
    p = Pass()
    p.start = time.time()
    for name, fn in calls:
        if tracer is not None:
            tracer.before_call(name)
        t0 = time.time()
        t1 = t2 = None
        try:
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            p.frames[name] = df
        except Exception as exc:  # a failing query is counted, not fatal
            p.errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        t1 = t1 or time.time()
        t2 = t2 or t1
        p.calls.append((name, t0, t1, t2))
        if tracer is not None:
            tracer.after_call(name, p.frames.get(name))
    p.end = time.time()
    return p


def setup_session(master: str, conf: dict):
    """``build_spark`` plus a first trivial action.

    Returns (spark, set-up seconds, of which in ``build_spark``)."""
    from big_data_toolkit_spark.session import build_spark

    t0 = time.perf_counter()
    spark = build_spark(app_name="perfbench", master=master, extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, time.perf_counter() - t0, t1 - t0


def stop_jvm() -> None:
    """Shut the JVM down and wait for it and every other child to end."""
    from pyspark import SparkContext

    from rss import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def check_outputs(spark, last: Pass, sf_dir: str, names) -> dict[str, str]:
    """Checks the last pass's DataFrames with the engine test suite's
    oracle comparison; returns name -> why the check failed."""
    import __spark_entry__
    from tests.oracle_utils import compare

    registry, sqls = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    failures = {}
    for name in names:
        df = last.frames.get(name)
        if df is None:
            continue
        checked = name
        try:
            if name in ARTIFACT_BUILDS:
                empty = [a for a, n in df.collect() if not n]
                if empty:
                    raise ValueError(f"empty artifacts: {empty}")
                checked = ARTIFACT_BUILDS[name][1]
                df = registry[checked](spark, sf_dir)
            compare(df, sqls[checked], sf_dir)
        except Exception as exc:  # a failing check is a failed query
            failures[name] = f"{type(exc).__name__}: {exc}"[:500]
    return failures


def tally(names, passes: int, failed_names) -> tuple[int, int]:
    """(attempted, failed) operations, one per query per pass.  A query
    that raised or missed its oracle counts as failed in every pass."""
    return len(names) * passes, len(set(failed_names) & set(names)) * passes


def session_conf(work: str) -> dict[str, str]:
    """Keeps every file the session writes inside ``work``."""
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
        "spark.local.dir": work,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def run(args, work: str, sf_dir: str) -> tuple[dict, dict]:
    """Runs the workload; returns (result, per-layer report)."""
    calls = resolve(args.workload)
    names = [n for n, _ in calls]
    master = f"local[{len(os.sched_getaffinity(0))}]"
    conf = session_conf(work)

    spark, setup_s, build_s = setup_session(master, conf)
    setups, builds = [setup_s], [build_s]
    with PeakRss() as rss:
        cold = run_pass(spark, calls, sf_dir)
        warm = []
        deadline = time.time() + args.seconds
        while len(warm) < WARM_PASSES or time.time() < deadline:
            warm.append(run_pass(spark, calls, sf_dir))
    passes = [cold, *warm]
    report = {}
    if args.trace:
        from tracing import Tracer

        # one traced pass between two untraced ones: their mean cancels the
        # JIT warm-up that continues from pass to pass, so the difference
        # is the tracing overhead
        tracer = Tracer(spark, args.workload, calls)
        before = run_pass(spark, calls, sf_dir)
        traced = tracer.traced_pass(lambda t: run_pass(spark, calls, sf_dir, t))
        after = run_pass(spark, calls, sf_dir)
        passes += [before, traced, after]
        report = tracer.report(traced.wall - (before.wall + after.wall) / 2)
        trace_file = os.path.join(
            HERE, "out", f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(trace_file, {"workload": args.workload, "seed": args.seed})
        print(json.dumps({"trace_file": os.path.relpath(trace_file, ROOT),
                          "per_query": tracer.queries[-len(calls):]}))
    t_check = time.perf_counter()
    failures = check_outputs(spark, passes[-1], sf_dir, names)
    check_s = time.perf_counter() - t_check
    spark.stop()
    for _ in range(SETUPS - 1):
        spark, setup_s, build_s = setup_session(master, conf)
        setups.append(setup_s)
        builds.append(build_s)
        spark.stop()

    errors = {}
    for p in passes:
        errors.update(p.errors)
    attempted, failed = tally(names, len(passes), {**errors, **failures})
    result = {
        "queries": names,
        "passes": len(passes),
        "setups_s": [round(s, 4) for s in setups],
        "passes_s": [round(p.wall, 4) for p in passes],
        "check_s": round(check_s, 3),
        "errors": errors,
        "oracle_failures": failures,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "metrics": {
            "setup_s": (statistics.median(setups), "s"),
            "cold_pass_s": (cold.wall, "s"),
            # the first half of the warm passes is JIT warm-up
            "warm_pass_s": (
                statistics.median(p.wall for p in warm[len(warm) // 2:]), "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MiB"),
        },
    }
    if report:
        report["session.build_s"] = (statistics.median(builds), "s")
    return result, report


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401  (fails fast outside a checkout)

    from datagen import write_inputs

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-",
                            dir=os.path.join(HERE, ".work"))
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = work
    tempfile.tempdir = work
    try:
        sf_dir = os.path.join(work, "inputs")
        inputs = write_inputs(sf_dir, args.seed)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "inputs": inputs}))
        result, report = run(args, work, sf_dir)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: v for k, v in result.items() if k != "metrics"}))
    metrics = report if args.trace else result["metrics"]
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
