"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The first two tests run ``perfbench/run.py`` end to end on the ``smoke``
workload (one verb, one kernel and one streaming query at sf0.001); the
last two share one in-process SparkSession.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import run as bench_run
from perfbench.trace import Span, _self_times
from perfbench.workloads import WORKLOADS

ROOT = bench_run.ROOT
SMOKE = WORKLOADS["smoke"]


def _run(trace: int):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "smoke", "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _check_printed(lines, result, declared):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    assert {k: m["unit"] for k, m in result["metrics"].items()} == declared
    for name, unit in declared.items():
        assert any(line.split()[:1] == [name] and line.split()[2] == unit for line in lines), name
    assert any(line.startswith("failed_frac ") for line in lines)


def test_smoke_untraced_prints_every_end_to_end_metric():
    lines, result = _run(0)
    _check_printed(lines, result, bench_run.declared_metrics("end_to_end"))
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_smoke_traced_prints_every_layer_metric_and_spans():
    lines, result = _run(1)
    _check_printed(lines, result, bench_run.declared_metrics("per_layer"))
    with open(os.path.join(bench_run.WORK, "trace-smoke-seed1.json")) as fh:
        trace = json.load(fh)
    assert trace["spans"] and all("trace_id" in s and "span_id" in s for s in trace["spans"])
    for q in trace["queries"]:
        ids = {s["trace_id"] for s in trace["spans"] if s["trace_id"] == q["trace_id"]}
        assert ids == {q["trace_id"]}
        assert sum(q["self_s"].values()) == pytest.approx(q["wall_s"], abs=1e-6)
    assert result["metrics"]["streaming.queries"]["value"] >= 1
    assert result["metrics"]["trace.overhead_frac"]["value"] > 0


def test_warm_pass_count_is_fixed_by_seconds():
    for w in WORKLOADS.values():
        assert w.warm_passes(18) == max(2, round(18 / w.pass_s))
        assert w.warm_passes(0.1) == 2


def test_session_cpu_counts_reaped_children():
    from perfbench.worker import session_cpu_s

    cpu0 = session_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert session_cpu_s() - cpu0 >= 0.05


def test_self_times_add_up_to_wall():
    root = Span(1, None, "q", "query", 0.0, 10.0)
    spans = [
        root,
        Span(2, 1, "build", "build", 1.0, 4.0),
        Span(3, 2, "job", "job", 2.0, 5.0),  # ends after its parent: clipped
        Span(4, 1, "action", "action", 5.0, 9.0),
        Span(5, 4, "stage a", "stage", 5.5, 8.0),
        Span(6, 4, "stage b", "stage", 6.0, 7.0),  # overlaps its sibling
    ]
    st = _self_times(spans, root)
    assert sum(st.values()) == pytest.approx(10.0)
    assert st == pytest.approx({1: 3.0, 2: 1.0, 3: 2.0, 4: 1.5, 5: 1.5, 6: 1.0})


@pytest.fixture(scope="module")
def spark():
    env = bench_run.host_env()
    saved = {k: os.environ.get(k) for k in ("SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH")}
    os.environ.update({k: env[k] for k in saved})
    from explorer_spark.session import get_spark

    s = get_spark(cpus=env["SPARK_GRAFT_CPUS"])
    yield s
    s.stop()
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


@pytest.fixture(scope="module")
def expected():
    from perfbench.oracle import expected_outputs

    return expected_outputs(SMOKE.sf_dir, SMOKE.queries)


def test_tracing_adds_zero_jobs(spark, expected):
    from explorer_spark.queries import QUERIES
    from perfbench.trace import Tracer
    from perfbench.worker import Bench

    tracer = Tracer(spark)
    bench = Bench(spark, SMOKE, expected, tracer)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for name in SMOKE.queries:
        bench.execute(name, check=True, traced=False)  # first execution builds per-session caches
        j0 = dag.nextJobId()
        QUERIES[name](spark, SMOKE.sf_dir).toPandas()
        plain = dag.nextJobId() - j0
        untraced = bench.execute(name, check=True, traced=False)["jobs"]
        tracer.install()
        try:
            traced = bench.execute(name, check=True, traced=True)
        finally:
            tracer.uninstall()
        assert plain == untraced == traced["jobs"], name
        assert plain == sum(1 for s in tracer.spans if s["trace_id"] == traced["record"]["trace_id"] and s["layer"] == "job")
    assert bench.failures == []


def test_wrong_output_counts_as_failure(spark, expected):
    from perfbench.worker import Bench

    name = "q1_groupby_agg"
    cols, rows = expected[name]
    wrong = {name: (cols, rows[1:] + [tuple("x" for _ in rows[0])])}
    bench = Bench(spark, SMOKE, wrong)
    out = bench.execute(name, check=True, traced=False)
    assert out["error"] and "mismatched rows" in out["error"]
    assert bench.failures and bench.attempted == 1
