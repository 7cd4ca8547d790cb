"""rcm-spark benchmark.

    python3 rcmbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run is a fresh Spark application doing
one job, as a nightly batch or a corpus job does in production:

- set-up: start the session, then generate the workload's inputs from
  ``--seed`` under ``.rcmbench/`` in the checkout (three times, median);
- timed region: the workload's fixed round of work, repeated while
  ``--seconds`` have not passed (at least once). Its first op is the cold
  one: the session has run nothing before it;
- checks, outside every timed op: the outputs against DuckDB oracles and
  the generator's invariants.

The package receives only the generated files. The last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a human-readable report (ops, contention
check, output hashes). A traced run also writes its spans to
``.rcmbench/traces/<workload>-<seed>.jsonl``. Everything else it writes is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".rcmbench")
CPUS = min(4, os.cpu_count() or 4)

# sizes: "full" is the benchmark, "tiny" is for the benchmark's own tests
SIZES = {
    "full": {"scale": 0.1, "corpus_sf": 0.01, "n_batches": 2},
    "tiny": {"scale": 0.02, "corpus_sf": 0.004, "n_batches": 2},
}


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and let Python workers import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata: HotSpot writes it to the system temp dir, not java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (its exit signal) and
    wait for the process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def sentinel_s(spark) -> float:
    """Contention check: best of five fixed JVM-side range sums, run after the
    timed region (a cold JVM would read slower for JIT reasons alone). No
    package code runs, so across runs its only variable is machine load."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, CPUS).selectExpr("sum(id * 3 + 1)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)

    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    # importing the package fails (non-zero exit, no result) where it is absent
    from healthcare_rcm_etl_pipeline_spark.session import get_spark
    from rcmbench import workloads
    from rcmbench.counters import SparkCounters, delta, host_cpu_ticks
    from rcmbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    size = SIZES[args.size]

    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"rcmbench-{args.workload}", cpus=CPUS)
    session_s = time.perf_counter() - t_setup
    try:
        counters = SparkCounters(spark)
        tracer = None
        if args.trace:
            tracer = Tracer(counters, f"{args.workload}-{args.seed}")
            tracer.install()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, size, tracer)
        setup_s = session_s + wl.setup()

        ticks0 = host_cpu_ticks()
        rounds: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        while not rounds or (time.perf_counter() < deadline
                             and len(rounds) < wl.max_rounds):
            snap0, cpu0 = counters.snapshot(), counters.cpu_s()
            mark = len(tracer.spans) if tracer else 0
            overhead0 = tracer.overhead_s if tracer else 0.0
            try:
                r = wl.round()
            except Exception:
                traceback.print_exc()
                wl.failed_ops += 1
                break
            r["cpu_s"] = counters.cpu_s() - cpu0
            r["spark"] = delta(counters.snapshot(), snap0)
            r["jobs"] = (snap0["jobs"], snap0["jobs"] + r["spark"]["jobs"])
            if tracer:
                r["layers"] = tracer.layer_totals(mark)
                r["trace_overhead_s"] = tracer.overhead_s - overhead0
                r["driver_only_s"] = r["wall"] - counters.job_busy_s(*r["jobs"])
            rounds.append(r)
        ticks1 = host_cpu_ticks()
        sentinel = sentinel_s(spark)
        t_checks = time.perf_counter()
        fails, report = wl.finish()
        report["checks_s"] = wl.checks_s + time.perf_counter() - t_checks
        peak_rss = counters.jvm_peak_rss_mb()
        if tracer:
            tracer.uninstall()
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.jsonl"))
    except Exception:
        traceback.print_exc()
        _stop_spark(spark)
        return 1
    _stop_spark(spark)
    if not rounds:
        return 1

    ops = [s for r in rounds for _, s in r["ops"]]
    attempted = len(ops)
    failed = wl.failed_ops + len(fails)
    walls = [r["wall"] for r in rounds]
    report.update({
        "workload": args.workload, "seed": args.seed, "rounds": len(rounds),
        "ops_timed": len(ops), "wall_s": statistics.median(walls),
        "round_walls_s": [round(w, 3) for w in walls],
        "round_cpu_s": [round(r["cpu_s"], 2) for r in rounds],
        "failed_checks": fails,
        "cold_pass_s": rounds[0]["ops"][0][1],
        "op_p50_s": statistics.median(ops),
        "last_round_ops": [(n, round(t, 3)) for n, t in rounds[-1]["ops"]],
        "contention": {"sentinel_s": round(sentinel, 4),
                       "steal_share": round((ticks1[0] - ticks0[0])
                                            / max(1, ticks1[1] - ticks0[1]), 4)},
    })
    if args.trace:
        metrics = workloads.per_layer_metrics(rounds, wl, session_s, peak_rss)
        report["trace_overhead_s_per_round"] = statistics.mean(
            r["trace_overhead_s"] for r in rounds)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (statistics.median(r["cpu_s"] for r in rounds), "s"),
            "bytes_written_per_input_byte": (wl.bytes_out / wl.bytes_in, "ratio"),
        }
    print("report " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    # sys.path[0] is this directory; drop it so trace.py cannot shadow the
    # standard library's trace module
    del sys.path[0]
    sys.exit(main())
