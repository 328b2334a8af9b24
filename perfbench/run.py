"""The repository's benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload verbs --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The run

1. starts the measured process and times its set-up, from launch until
   the Spark session is up and has run a fixed engine warm-up job;
2. that process reads the expected output of every query in the
   workload (computed from its DuckDB oracle and cached under
   ``perfbench/.cache`` on first use), runs a cold pass whose outputs are
   checked against them, then a fixed number of warm passes, as many as
   take ``--seconds`` on an unloaded 4-core host (at least two);
3. prints every metric by name with its unit, and as its last line one
   JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

The gated end-to-end metrics are CPU time of the measured processes (the
driver, its JVM and the JVM's Python workers), which host load moves far
less than wall time; wall times are printed beside them.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` interleaves
as many traced warm passes with the untraced ones, reports the per-layer
metrics and writes every span to
``perfbench/.work/trace-<workload>-seed<seed>.json``.

The seed only permutes the query order of each warm pass; the queries
always read the same parquet inputs under ``perfbench/data``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
DEADLINE_S = 170  # workers still running after this are killed


def declared_metrics(kind: str) -> dict:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json, in their declared order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def host_env() -> dict:
    """Environment of the measured processes: cores and driver memory
    sized to this host, scratch space inside the checkout, the package on
    the Python workers' path, every other SPARK_GRAFT_* knob at its
    default."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(WORK, "tmp")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, int(mem_gb // 4)))}g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join([ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


class Worker:
    """One ``perfbench.worker`` process in its own process group."""

    def __init__(self, argv: list[str], env: dict, log):
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", *argv],
            cwd=os.path.join(WORK, "cwd"),
            env=env,
            stdout=subprocess.PIPE,
            stderr=log,
            text=True,
            start_new_session=True,
        )

    def wait_for(self, marker: str) -> float | None:
        """Seconds from launch until the worker printed ``marker``, or
        None if it exited first."""
        for line in self.proc.stdout:
            if line.strip() == marker:
                return time.perf_counter() - self.t0
            sys.stderr.write(line)
        return None

    def kill(self):
        """Kill what is left of the process group and wait until it is gone."""
        pgid = self.proc.pid
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        for _ in range(200):
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def steal_s() -> float:
    """CPU time this machine's hypervisor has given to others since boot,
    summed over CPUs: a slow run with high steal was slowed by the host."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def measure(a) -> dict:
    from perfbench.worker import DONE, READY

    for d in ("tmp", "spark-local"):  # scratch of earlier runs
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = host_env()
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    steal0 = steal_s()
    with open(os.path.join(WORK, "worker.log"), "w") as log:
        w = Worker([*argv, "--out", out], env, log)
        timer = threading.Timer(DEADLINE_S, w.kill)
        timer.start()
        try:
            setup_s = w.wait_for(READY)
            if setup_s is None or w.wait_for(DONE) is None:
                raise RuntimeError("the measured process failed; see perfbench/.work/worker.log")
        finally:
            timer.cancel()
            w.kill()  # the result is written; a graceful stop would only cost time
    with open(out) as fh:
        result = json.load(fh)
    os.remove(out)
    result["setup_s"] = setup_s
    result["steal_s"] = steal_s() - steal0
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "explorer_spark", "queries.py")) or not os.path.exists(
        os.path.join(ROOT, "tests", "test_oracle.py")
    ):
        print(f"perfbench: {ROOT} holds no explorer_spark checkout to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still kills its workers, in measure()'s finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = measure(a)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    e2e = result["end_to_end"]
    attempted, failed = result["attempted"], result["failed"]
    print("# environment " + json.dumps(result["environment"], sort_keys=True))
    print(f"# host CPU steal during the run: {result['steal_s']:.2f} s")
    for f in result["failures"]:
        print(f"# FAILED {f}")
    if a.trace:
        layers = result["per_layer"]
        layers["session.start_s"] = result["session_start_s"]
        layers["driver.peak_rss_mb"] = e2e["peak_rss_mb"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in declared_metrics("per_layer").items()}
        path = os.path.join(WORK, f"trace-{a.workload}-seed{a.seed}.json")
        with open(path, "w") as fh:
            json.dump({k: result[k] for k in ("environment", "per_layer", "per_pass", "queries", "spans")}, fh)
        worst = max(abs(sum(q["self_s"].values()) - q["wall_s"]) for q in result["queries"])
        print(f"# trace: {len(result['spans'])} spans in {path}; largest |sum(self) - wall| {worst:.2e} s")
    else:
        e2e["setup_s"] = result["setup_cpu_s"]
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in declared_metrics("end_to_end").items()}
        path = os.path.join(WORK, f"run-{a.workload}-seed{a.seed}.json")
        with open(path, "w") as fh:
            json.dump({k: result[k] for k in ("environment", "passes")}, fh)
        for clock in ("wall_s", "cpu_s"):
            warm = ", ".join(f"{p[clock]:.3f}" for p in result["passes"][1:])
            print(f"# warm passes, {clock}: [{warm}]")
        print(f"# warm query samples: {e2e['query_samples']}; every execution's times are in {path}")
        wall = ("cold_pass_s", "warm_pass_s", "query_p50_s", "query_p90_s", "geomean_query_s")
        print(f"# wall time, not gated: setup {result['setup_s']:.6g} s, " + ", ".join(f"{k} {e2e[k]:.6g} s" for k in wall))
        cpu = ("cold_pass_cpu_s", "query_cpu_p50_s", "query_cpu_p90_s")
        print("# CPU time, not gated: " + ", ".join(f"{k} {e2e[k]:.6g} s" for k in cpu))
        print(f"# peak_rss_mb {e2e['peak_rss_mb']:.6g} MB (reported as driver.peak_rss_mb in traced runs, not gated)")
    for k, m in metrics.items():
        print(f"{k:34s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_frac':34s} {failed / attempted:.6g} ratio ({failed} of {attempted} executions)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
