"""Spark side of one benchmark run: start the session, run the workload's
queries pass after pass, check outputs, and write the measurements.

Run by ``perfbench/run.py``, which launches it as
``python -m perfbench.worker`` with the environment and working
directory of the run, times its set-up until it prints ``READY``, and
kills it once it has printed ``DONE`` (the result file is written). The
driver JVM exits with it.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import resource
import statistics
import sys
import time

import pandas as pd  # module level: the warm-up UDF's type hints name it

from perfbench.workloads import WORKLOADS

READY = "PERFBENCH_READY"  # printed once the session is up
DONE = "PERFBENCH_DONE"  # printed once the result file is written
CLK_TCK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU time, user plus system, of every process in this process's
    session, reaped children included: this driver, its JVM and the
    JVM's Python workers. The kernel leaves out of it the time the
    hypervisor gave to other machines and time spent waiting for a CPU,
    so host load moves it far less than wall time."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                f = fh.read().rsplit(b")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        if int(f[3]) == sid:  # fields after the name: state ppid pgrp session ... utime stime cutime cstime
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


class Bench:
    """Runs a workload's queries against one SparkSession."""

    def __init__(self, spark, workload, expected: dict, tracer=None):
        from explorer_spark.queries import QUERIES

        self.spark = spark
        self.workload = workload
        self.fns = {n: QUERIES[n] for n in workload.queries}
        self.expected = expected
        self.tracer = tracer
        self.dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.attempted = 0
        self.failures: list[str] = []

    def execute(self, name: str, check: bool, traced: bool, pass_no: int = 0) -> dict:
        """One execution of one query: build it, collect it with
        ``toPandas`` (the timed part), then, untimed, check the output."""
        from perfbench.oracle import mismatch

        fn, sf_dir = self.fns[name], self.workload.sf_dir
        out = {"query": name, "wall_s": None, "cpu_s": None, "jobs": None, "error": None, "record": None}
        self.attempted += 1
        df = pdf = None
        try:
            cpu0 = session_cpu_s()
            if traced:
                tr = self.tracer
                with tr.query(name) as root:
                    with tr.span("build", "build"):
                        df = fn(self.spark, sf_dir)
                    with tr.span("action", "action"):
                        pdf = df.toPandas()
                out["wall_s"] = root.end - root.start
                out["jobs"] = root.job_hi - root.job_lo
                out["record"] = tr.finish(root, df, pass_no)
            else:
                jobs0 = self.dag.nextJobId()
                t0 = time.perf_counter()
                df = fn(self.spark, sf_dir)
                pdf = df.toPandas()
                out["wall_s"] = time.perf_counter() - t0
                out["jobs"] = self.dag.nextJobId() - jobs0
            out["cpu_s"] = session_cpu_s() - cpu0
            if check:
                out["error"] = mismatch(pdf, self.expected[name])
        except Exception as e:  # one failing query must not end the run
            out["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        if out["error"] is not None:
            self.failures.append(f"{name}: {out['error']}")
        return out

    def run_pass(self, order, check=False, traced=False, pass_no=0) -> dict:
        execs = [self.execute(n, check, traced, pass_no) for n in order]
        gc.collect()  # drop this pass's frames outside any timed region
        ok = [e for e in execs if e["error"] is None]
        return {"wall_s": sum(e["wall_s"] for e in ok), "cpu_s": sum(e["cpu_s"] for e in ok), "execs": execs}


def end_to_end(cold: dict, warm: list[dict]) -> dict:
    """The pass and query metrics in CPU time (``*_cpu_s``) and in wall
    time (``*_s``). A warm pass figure is the mean over the run's fixed
    number of warm passes: work per pass, which a median of a few
    passes that still speed up as the JIT compiles would blur."""
    ok = [e for p in warm for e in p["execs"] if e["error"] is None]
    out = {"query_samples": len(ok)}
    for clock, suffix in (("wall_s", "_s"), ("cpu_s", "_cpu_s")):
        samples = [e[clock] for e in ok]
        by_query: dict[str, list[float]] = {}
        for e in ok:
            by_query.setdefault(e["query"], []).append(e[clock])
        out |= {
            "cold_pass" + suffix: cold[clock],
            "warm_pass" + suffix: statistics.fmean(p[clock] for p in warm),
            "query" + suffix.replace("_s", "_p50_s"): statistics.median(samples),
            "query" + suffix.replace("_s", "_p90_s"): statistics.quantiles(samples, n=10, method="inclusive")[8],
            "geomean_query" + suffix: math.exp(
                statistics.fmean(math.log(statistics.median(v)) for v in by_query.values())
            ),
        }
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def environment(spark) -> dict:
    import platform

    import pyspark

    conf = dict(sorted(spark.sparkContext.getConf().getAll()))
    for k in ("spark.app.id", "spark.app.startTime", "spark.driver.port", "spark.driver.host", "spark.app.submitTime"):
        conf.pop(k, None)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "spark_conf": conf,
    }


def engine_warmup(spark, sf_dir: str) -> None:
    """A fixed job, run once before the cold pass and counted in set-up:
    a parquet scan, shuffles, a join, an Arrow pandas UDF on every core
    and an Arrow collect. It starts what any first query would otherwise
    start (the Python workers, the JIT's first compiles), so the cold
    pass does not charge them to whichever query comes first."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def half(v: pd.Series) -> pd.Series:
        return v / 2

    cores = spark.sparkContext.defaultParallelism
    nums = spark.range(0, 200_000, numPartitions=cores).withColumn("k", F.col("id") % 101)
    agg = nums.groupBy("k").agg(F.sum(half("id")).alias("s"))
    scan = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    scan = scan.groupBy((F.abs(F.hash(scan.columns[0])) % 101).alias("k")).count()
    agg.join(scan, "k", "left").orderBy("k").toPandas()


def run(spark, workload, seed: int, seconds: float, trace: bool, expected: dict) -> dict:
    """Cold pass (outputs checked), then ``workload.warm_passes(seconds)``
    warm passes: a fixed amount of work, so a loaded host runs the same
    passes for longer instead of fewer passes less warmed up. With
    ``trace``, as many traced warm passes are interleaved with them, and
    the traced ones give the per-layer metrics."""
    from perfbench.trace import Tracer, pass_metrics

    rng = random.Random(seed)
    tracer = Tracer(spark) if trace else None
    bench = Bench(spark, workload, expected, tracer)

    def order():
        names = list(workload.queries)
        rng.shuffle(names)
        return names

    def timed_pass(pass_no, traced, check=False, ordered=False):
        if traced:
            tracer.install()
        try:
            names = list(workload.queries) if ordered else order()
            return bench.run_pass(names, check=check, traced=traced, pass_no=pass_no)
        finally:
            if traced:
                tracer.uninstall()

    # in the listed order: what a fresh session's first executions cost
    # depends on which query comes first, and the seed should not move it
    cold = timed_pass(0, trace, check=True, ordered=True)
    untraced, traced = [], []
    n = workload.warm_passes(seconds)
    for i in range(2 * n if trace else n):
        # untraced, traced, traced, untraced, ...: both kinds sit equally
        # often early and late, so warming up does not bias the overhead
        tracing = trace and i % 4 in (1, 2)
        (traced if tracing else untraced).append(timed_pass(1 + i, tracing))

    e2e = end_to_end(cold, untraced)
    e2e["peak_rss_mb"] = peak_rss_mb(spark)
    keep = ("query", "wall_s", "cpu_s", "jobs", "error")
    result = {
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "failures": bench.failures,
        "end_to_end": e2e,
        "environment": environment(spark),
        # the cold pass, then the untraced warm passes, query by query
        "passes": [
            {"wall_s": p["wall_s"], "cpu_s": p["cpu_s"], "execs": [{k: e[k] for k in keep} for e in p["execs"]]}
            for p in (cold, *untraced)
        ],
    }
    if tracer:
        cores = int(spark.sparkContext.defaultParallelism)
        per_pass = [pass_metrics([e["record"] for e in p["execs"] if e["record"]], cores) for p in traced]
        layers = {k: statistics.median(pm.get(k, 0.0) for pm in per_pass) for k in per_pass[0]}
        cold_layers = pass_metrics([e["record"] for e in cold["execs"] if e["record"]], cores)
        for k in ("sources.load_calls", "sources.load_s"):
            layers[k] = cold_layers.get(k, 0.0)
        layers["trace.overhead_frac"] = statistics.fmean(p["wall_s"] for p in traced) / e2e["warm_pass_s"]
        result["per_layer"] = layers
        result["per_pass"] = per_pass
        result["queries"] = [
            {
                "trace_id": r["trace_id"],
                "query": r["query"],
                "pass": r["pass"],
                "wall_s": r["wall_s"],
                "self_s": r["self_s"],
                "unaccounted_frac": r["unaccounted_frac"],
            }
            for r in tracer.queries
        ]
        result["spans"] = tracer.spans
    return result


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True, help="result JSON path")
    a = ap.parse_args(argv)

    from explorer_spark.queries import QUERIES  # noqa: F401  (import cost is part of set-up)
    from explorer_spark.session import get_spark

    workload = WORKLOADS[a.workload]
    t0 = time.perf_counter()
    spark = get_spark()
    session_start_s = time.perf_counter() - t0
    engine_warmup(spark, workload.sf_dir)
    setup_cpu_s = session_cpu_s()  # since this process was launched
    print(READY, flush=True)
    from perfbench.oracle import expected_outputs

    expected = expected_outputs(workload.sf_dir, workload.queries)
    result = run(spark, workload, a.seed, a.seconds, bool(a.trace), expected)
    result["session_start_s"] = session_start_s
    result["setup_cpu_s"] = setup_cpu_s
    # what the whole run costs: set-up and every timed query execution
    result["end_to_end"]["total_cpu_s"] = setup_cpu_s + sum(p["cpu_s"] for p in result["passes"])
    tmp = a.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, a.out)
    print(DONE, flush=True)


if __name__ == "__main__":
    sys.exit(main())
