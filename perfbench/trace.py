"""Tracing from outside the program.

The tracer records a span around each call into a layer's public
functions: the query function (``build``), ``sources.load_table``, the
public functions of every ``explorer_spark.operators`` module,
``DataFrame.localCheckpoint`` (``pin``), streaming queries started with
``DataStreamWriter.start`` and the final action. It installs these
wrappers by replacing every module attribute under ``explorer_spark``
that refers to a wrapped function, and removes them again; the program's
files are not changed. After each query it reads Spark's status stores
(jobs, stages, SQL executions, Catalyst phases, stream progress) and
turns what it finds into child spans.

Spans of one query execution share a trace id. A span's self time is the
time during which it is the innermost open span; overlapping siblings go
to the one that started last. Self times therefore add up exactly to the
query's wall time, and the query span's own self time is the share no
layer accounts for.

Jobs are attributed by job id: every Python span records the DAG
scheduler's next job id when it opens and closes, and a job belongs to
the innermost span whose id window contains it. For an operator
module's eager jobs only operator spans count: a job fired by a pin (or
a source load) inside a ``dedup`` function is one of dedup's eager jobs.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import sys
import time
from contextlib import contextmanager
from datetime import datetime

from py4j.protocol import Py4JJavaError

OPERATOR_MODULES = (
    "dedup",
    "dedup_store",
    "similarity",
    "text",
    "ordered",
    "rolling",
    "asof",
    "bucketing",
    "cut",
    "multimodal",
)

# SQL metric display names of Spark's Python-runner metrics
PYTHON_METRICS = {
    "time to run Python workers": "total_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


class Span:
    __slots__ = ("id", "parent", "name", "layer", "start", "end", "job_lo", "job_hi", "attrs")

    def __init__(self, sid, parent, name, layer, start, end=None, attrs=None):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.start, self.end = start, end
        self.job_lo = self.job_hi = None
        self.attrs = attrs or {}

    def as_dict(self, trace_id):
        return {
            "trace_id": trace_id,
            "span_id": self.id,
            "parent_id": self.parent,
            "name": self.name,
            "layer": self.layer,
            "start": round(self.start, 6),
            "end": round(self.end, 6),
            **({"attrs": self.attrs} if self.attrs else {}),
        }


def _ms(opt_date):
    """Scala Option[java.util.Date] -> epoch seconds or None."""
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def _parse_metric_string(text: str) -> float:
    """First value of a formatted SQL metric ('12.3 KiB', '2.8 s', or the
    'total (min, med, max ...)' form) in base units (bytes, seconds)."""
    line = text.split("\n")[-1].strip()
    num, _, rest = line.partition(" ")
    unit = rest.split(" ")[0] if rest else ""
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


class Tracer:
    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.installed: list[tuple[object, str, object]] = []
        self.queries: list[dict] = []  # one record per traced execution
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._trace_ids = itertools.count(1)
        self._stack: list[Span] = []
        self._query_spans: list[Span] = []
        self._streams: list[tuple[Span, object]] = []
        self._last_exec = self._last_execution_id()

    # -- span bookkeeping -------------------------------------------------
    def _next_job(self) -> int:
        return self.jsc.dagScheduler().nextJobId()

    def _open(self, name, layer):
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, name, layer, time.time())
        s.job_lo = self._next_job()
        self._stack.append(s)
        self._query_spans.append(s)
        return s

    def _close(self, s):
        s.job_hi = self._next_job()
        s.end = time.time()
        self._stack.remove(s)

    @contextmanager
    def span(self, name, layer):
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, fn, name, layer):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._stack:  # outside a traced query
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def _targets(self) -> dict:
        from explorer_spark import sources

        targets = {sources.load_table: ("sources.load_table", "sources")}
        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"explorer_spark.operators.{m}")
            for attr, obj in vars(mod).items():
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__ and not attr.startswith("_"):
                    targets[obj] = (f"operators.{m}.{attr}", f"operators.{m}")
        return targets

    def install(self):
        """Wrap the layers' public functions wherever the program refers
        to them, plus the pin and stream entry points."""
        if self.installed:
            return
        targets = self._targets()
        wrapped = {fn: self._wrap(fn, *nl) for fn, nl in targets.items()}
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("explorer_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrapped:
                    self.installed.append((mod, attr, obj))
                    setattr(mod, attr, wrapped[obj])
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        tracer = self
        pin = DataFrame.localCheckpoint
        start = DataStreamWriter.start
        stop = StreamingQuery.stop

        @functools.wraps(start)
        def stream_start(writer, *a, **kw):
            if not tracer._stack:
                return start(writer, *a, **kw)
            s = tracer._open("stream", "streaming")
            try:
                q = start(writer, *a, **kw)
            except BaseException:
                tracer._close(s)
                raise
            tracer._streams.append((s, q))
            return q

        @functools.wraps(stop)
        def stream_stop(q, *a, **kw):
            try:
                return stop(q, *a, **kw)
            finally:
                for s, sq in tracer._streams:
                    if sq is q and s.end is None:
                        tracer._close(s)

        for cls, attr, orig, new in (
            (DataFrame, "localCheckpoint", pin, self._wrap(pin, "pin", "pin")),
            (DataStreamWriter, "start", start, stream_start),
            (StreamingQuery, "stop", stop, stream_stop),
        ):
            self.installed.append((cls, attr, orig))
            setattr(cls, attr, new)

    def uninstall(self):
        for owner, attr, orig in reversed(self.installed):
            setattr(owner, attr, orig)
        self.installed.clear()

    # -- one query ------------------------------------------------------------
    @contextmanager
    def query(self, name):
        """Root span of one query execution; yields the span."""
        self._query_spans, self._streams = [], []
        self._last_exec = self._last_execution_id()  # skip untraced passes' executions
        root = self._open(name, "query")
        try:
            yield root
        finally:
            for s, _q in self._streams:  # a stream never stopped ends with its query
                if s.end is None:
                    self._close(s)
            self._close(root)

    def finish(self, root: Span, df, pass_no: int) -> dict:
        """Read the status stores for the query under ``root`` (after it
        ran, outside its timed region) and return its per-layer record."""
        self.jsc.listenerBus().waitUntilEmpty()
        trace_id = next(self._trace_ids)
        py_spans = list(self._query_spans)
        spans = list(py_spans)
        by_id = {s.id: s for s in spans}

        depth = {s.id: _depth(s, by_id) for s in py_spans}

        def owner(job_id, among=py_spans):  # innermost span whose id window holds the job
            holding = [s for s in among if s.job_lo <= job_id < s.job_hi]
            return max(holding, key=lambda s: (depth[s.id], s.start), default=root)

        operator_spans = [s for s in py_spans if s.layer.startswith("operators.")]

        build = next(s for s in py_spans if s.layer == "build")
        action = next((s for s in py_spans if s.layer == "action"), None)
        store = self.jsc.statusStore()
        jobs, seen_stages = [], set()
        for jid in range(root.job_lo, root.job_hi):
            try:
                j = store.job(jid)
            except Py4JJavaError:  # job evicted from the status store
                continue
            own = owner(jid)
            js = Span(next(self._ids), own.id, f"job {jid}", "job",
                      _ms(j.submissionTime()) or own.start, _ms(j.completionTime()) or own.end)
            spans.append(js)
            job = {"owner": own.layer, "operator": owner(jid, operator_spans).layer,
                   "eager": build.job_lo <= jid < build.job_hi, "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                   "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "input_bytes": 0, "input_rows": 0}
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never attempted
                    continue
                if st.status().toString() == "SKIPPED" or not st.submissionTime().isDefined():
                    continue
                job["stages"] += 1
                job["tasks"] += st.numTasks()
                job["run_ms"] += st.executorRunTime()
                job["cpu_ns"] += st.executorCpuTime()
                job["gc_ms"] += st.jvmGcTime()
                job["shuffle_read"] += st.shuffleReadBytes()
                job["shuffle_write"] += st.shuffleWriteBytes()
                job["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                job["input_bytes"] += st.inputBytes()
                job["input_rows"] += st.inputRecords()
                spans.append(Span(next(self._ids), js.id, f"stage {sid}", "stage",
                                  _ms(st.submissionTime()), _ms(st.completionTime()) or js.end,
                                  {"tasks": st.numTasks()}))
            js.attrs = dict(job)
            jobs.append(job)

        catalyst = {}
        if df is not None and action is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                kv = it.next()
                ph = kv._2()
                start = ph.startTimeMs() / 1000.0
                parent = action if start >= action.start - 1e-3 else build
                catalyst[kv._1()] = ph.durationMs() / 1000.0
                spans.append(Span(next(self._ids), parent.id, f"catalyst.{kv._1()}", "catalyst",
                                  start, ph.endTimeMs() / 1000.0))

        stream = {"queries": 0, "batches": 0, "trigger_s": 0.0, "wall_s": 0.0}
        for s, q in self._streams:
            stream["queries"] += 1
            stream["wall_s"] += s.end - s.start
            for p in q.recentProgress:
                trig = p.durationMs.get("triggerExecution", 0) / 1000.0
                stream["batches"] += 1
                stream["trigger_s"] += trig
                # a progress timestamp is its trigger's start, in UTC ISO form
                t0 = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                spans.append(Span(next(self._ids), s.id, f"trigger {p.batchId}", "trigger",
                                  t0, t0 + trig))

        pyw = self._python_worker_metrics()
        storage = 0
        for info in self.jsc.getRDDStorageInfo():
            storage += info.memSize() + info.diskSize()

        self_time = _self_times(spans, root)
        layers: dict[str, float] = {}
        for s in spans:
            key = _layer_key(s)
            layers[key] = layers.get(key, 0.0) + self_time[s.id]
        wall = root.end - root.start
        rec = {
            "trace_id": trace_id,
            "query": root.name,
            "pass": pass_no,
            "wall_s": wall,
            "self_s": layers,
            "unaccounted_frac": layers.get("unaccounted", 0.0) / wall if wall > 0 else 0.0,
            "jobs": jobs,
            "action": action,
            "py_spans": py_spans,
            "catalyst": catalyst,
            "stream": stream,
            "python_worker": pyw,
            "storage_bytes": storage,
        }
        self.queries.append(rec)
        self.spans.extend(s.as_dict(trace_id) for s in spans)
        self._query_spans, self._streams = [], []
        return rec

    def _last_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        return self.sql_store.executionsList(n - 1, 1).apply(0).executionId()

    def _python_worker_metrics(self) -> dict:
        """Sum the Python-runner SQL metrics of every SQL execution that
        started since the previous call. The values are the status store's
        per-execution aggregates; the accumulators themselves are shared
        by every execution of a reused plan, so they are not read."""
        totals = {v: 0.0 for v in PYTHON_METRICS.values()}
        store = self.sql_store
        n = store.executionsCount()
        k = 32
        while True:
            lst = store.executionsList(max(0, n - k), min(k, n))
            execs = [lst.apply(i) for i in range(lst.size())]
            if k >= n or not execs or execs[0].executionId() <= self._last_exec:
                break
            k *= 2
        for e in execs:
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = eid
            ms, values = e.metrics(), None
            for i in range(ms.size()):
                m = ms.apply(i)
                key = PYTHON_METRICS.get(m.name())
                if key is None:
                    continue
                if values is None:
                    values = store.executionMetrics(eid)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    totals[key] += _parse_metric_string(v.get())
        return totals


def _depth(s, by_id):
    d = 0
    while s.parent is not None and s.parent in by_id:
        s = by_id[s.parent]
        d += 1
    return d


def _layer_key(s) -> str:
    if s.layer == "query":
        return "unaccounted"
    if s.layer == "build":
        return "frame.build"
    if s.layer == "sources":
        return "sources.load"
    if s.layer == "streaming":
        return "streaming.lifecycle"
    if s.layer == "trigger":
        return "streaming.trigger"
    if s.layer == "catalyst":
        return s.name
    if s.layer == "job":
        return "scheduler"
    if s.layer == "stage":
        return "executor"
    return s.layer  # action, pin, operators.<m>


def _self_times(spans, root) -> dict:
    """Self time per span: the time during which it is the innermost open
    span (deepest, then latest-started). Children are first clipped to
    their parent's interval, so the self times sum to the root's wall."""
    children: dict = {}
    for s in spans:
        if s is not root:
            children.setdefault(s.parent, []).append(s)
    iv, order = {}, []

    def visit(s, lo, hi, depth):
        a = min(max(s.start, lo), hi)
        b = min(max(s.end if s.end is not None else hi, a), hi)
        iv[s.id] = (a, b, depth)
        order.append(s)
        for c in children.get(s.id, []):
            visit(c, a, b, depth + 1)

    visit(root, root.start, root.end, 0)
    cuts = sorted({x for a, b, _ in iv.values() for x in (a, b)})
    out = {s.id: 0.0 for s in spans}
    for lo, hi in zip(cuts, cuts[1:]):
        best, key = None, None
        for s in order:
            a, b, d = iv[s.id]
            if a <= lo and b >= hi:
                k = (d, a, s.id)
                if key is None or k > key:
                    best, key = s, k
        out[best.id] += hi - lo
    return out


def pass_metrics(records: list[dict], cores: int) -> dict:
    """Per-layer totals over the traced query executions of one pass."""
    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    def selfs(key):
        return sum(r["self_s"].get(key, 0.0) for r in records)

    for r in records:
        layers = [s.layer for s in r["py_spans"]]
        add("sources.load_calls", layers.count("sources"))
        add("frame.eager_jobs", sum(j["eager"] for j in r["jobs"]))
        for op in OPERATOR_MODULES:
            add(f"operators.{op}.calls", layers.count(f"operators.{op}"))
            add(f"operators.{op}.eager_jobs", sum(j["eager"] and j["operator"] == f"operators.{op}" for j in r["jobs"]))
        add("pin.count", layers.count("pin"))
        m["pin.peak_storage_bytes"] = max(m.get("pin.peak_storage_bytes", 0), r["storage_bytes"])
        st = r["stream"]
        add("streaming.queries", st["queries"])
        add("streaming.batches", st["batches"])
        add("streaming.trigger_s", st["trigger_s"])
        add("streaming.lifecycle_s", st["wall_s"] - st["trigger_s"])
        for phase in ("analysis", "optimization", "planning"):
            add(f"catalyst.{phase}_s", r["catalyst"].get(phase, 0.0))
        action_s = r["action"].end - r["action"].start if r["action"] else 0.0
        add("scheduler.action_s", action_s)
        add("scheduler.jobs", len(r["jobs"]))
        for j in r["jobs"]:
            add("scheduler.stages", j["stages"])
            add("scheduler.tasks", j["tasks"])
            add("executor.run_s", j["run_ms"] / 1e3)
            add("executor.cpu_s", j["cpu_ns"] / 1e9)
            add("executor.gc_s", j["gc_ms"] / 1e3)
            add("executor.shuffle_read_bytes", j["shuffle_read"])
            add("executor.shuffle_write_bytes", j["shuffle_write"])
            add("executor.spill_bytes", j["spill"])
            add("sources.scan_bytes", j["input_bytes"])
            add("sources.scan_rows", j["input_rows"])
            if not j["eager"]:
                add("_action_run_s", j["run_ms"] / 1e3)
        for k, v in r["python_worker"].items():
            add(f"python_worker.{k}", v)
    m["sources.load_s"] = selfs("sources.load")
    m["frame.build_s"] = selfs("frame.build")
    for op in OPERATOR_MODULES:
        m[f"operators.{op}.build_s"] = selfs(f"operators.{op}")
    m["pin.s"] = selfs("pin")
    action = m.get("scheduler.action_s", 0.0)
    m["executor.busy_frac"] = m.pop("_action_run_s", 0.0) / (action * cores) if action > 0 else 0.0
    return m
