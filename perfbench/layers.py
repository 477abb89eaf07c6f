"""Per-layer attribution for a traced benchmark run.

Layers follow the engine's package and module names. Spans come from
timing wrappers that this module installs around the public functions of
``session``, ``ops``, ``functions``, ``llm``, ``io``, ``streaming`` and
``core.cache`` (the engine itself is not modified); the registry call is
the ``queries`` span (the build) and the action is the ``exec`` span.
Spark-side numbers come from Spark's own surfaces: the uncompressed event
log (jobs, stages, tasks, task metrics, Python-worker SQL metrics), the
``QueryExecution`` trackers (Catalyst phases), the SparkContext's storage
info (persisted RDDs) and the JVM's memory pool beans.

Catalyst phases of an operation are those of every query it executed,
read from the ``QueryExecution`` each ran (a ``QueryExecutionListener``:
queries the build ran eagerly, and the noop write's command), plus the
analysis recorded on the DataFrame the build returned (Spark analyzes a
DataFrame when it is created). Analysis of intermediate DataFrames that
the build created and never executed is not included.

Jobs are matched to operations by the job group set for each build and
each action; jobs without one (streaming micro-batches run on their own
thread) are matched by submission time. A build job is charged to the
innermost engine span open when it was submitted.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import sys
import time

from workloads import dir_bytes

PKG = "dataframes_jl_spark"
LAYERS = {
    "session": (f"{PKG}.session",),
    "ops": (f"{PKG}.ops",),
    "functions": (f"{PKG}.functions",),
    "llm": (f"{PKG}.llm",),
    "io": (f"{PKG}.io",),
    "streaming": (f"{PKG}.streaming",),
    "core.cache": (f"{PKG}.core.cache",),
}
IO_WRITES = {"save", "zorder_write", "writetable"}
IO_READS = {"load_df", "readtable"}
PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to initialize Python workers": "init_s",
    "time to start Python workers": "boot_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
    "number of output rows": "rows_recv",
}
MB = 1024.0 * 1024.0

UNITS = {
    "queries.build_s": "s/op", "queries.self_s": "s/op", "queries.build_jobs": "count/op",
    "queries.build_tasks": "count/op", "queries.build_job_frac": "ratio",
    "session.load_table_s": "s/op", "session.load_table_calls": "count/op",
    "session.load_table_jobs": "count/op", "session.self_s": "s/op",
    "ops.self_s": "s/op", "ops.jobs": "count/op",
    "functions.self_s": "s/op", "functions.jobs": "count/op",
    "llm.self_s": "s/op", "llm.jobs": "count/op",
    "catalyst.analysis_ms": "ms/op", "catalyst.optimization_ms": "ms/op",
    "catalyst.planning_ms": "ms/op",
    "exec.action_s": "s/op", "exec.jobs": "count/op", "exec.stages": "count/op",
    "exec.tasks": "count/op", "exec.task_run_s": "s/op", "exec.task_cpu_s": "s/op",
    "exec.gc_s": "s/op", "exec.queue_s": "s/op", "exec.input_mb": "MB/op",
    "exec.shuffle_write_mb": "MB/op", "exec.shuffle_fetch_wait_s": "s/op",
    "exec.spill_mb": "MB/op", "exec.failed_tasks": "count/op", "exec.empty_task_frac": "ratio",
    "pyworker.run_s": "s/op", "pyworker.init_s": "s/op", "pyworker.boot_s": "s/op",
    "pyworker.sent_mb": "MB/op", "pyworker.recv_mb": "MB/op", "pyworker.rows_recv": "count/op",
    "core.cache.self_s": "s/op", "core.cache.persisted_rdds_after_op": "count/op",
    "core.cache.persisted_mb": "MB/op",
    "io.self_s": "s/op", "io.write_s": "s/op", "io.read_s": "s/op",
    "io.bytes_written_mb": "MB/op", "io.files_written": "count/op",
    "io.stored_bytes_ratio": "ratio",
    "streaming.self_s": "s/op", "streaming.batch_s": "s/op", "streaming.batches": "count/op",
    "jvm.heap_peak_mb": "MB", "jvm.nonheap_peak_mb": "MB",
    "trace.ops_per_s": "1/s", "trace.ops_per_s_ratio": "ratio",
    "trace.layer_sum_err_max": "ratio",
}


def _modules(root: str):
    mod = importlib.import_module(root)
    yield mod
    if hasattr(mod, "__path__"):
        for info in pkgutil.walk_packages(mod.__path__, root + "."):
            yield importlib.import_module(info.name)


class PhaseListener:
    """``QueryExecutionListener``: Catalyst phases (ms) of every query the
    session executes, taken from the ``QueryExecution`` that ran it."""

    def __init__(self):
        self.seen = []  # (identity of the QueryExecution, {phase: ms})

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self.seen.append((qe.hashCode(), phases_ms(qe)))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self.seen.append((qe.hashCode(), phases_ms(qe)))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phases_ms(qe) -> dict:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class Recorder:
    """Collects spans and per-operation records during the traced window."""

    def __init__(self, spark, workload):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans = []  # (layer, name, start, end), epoch seconds
        self.ops = []
        self._swapped = []  # (module, attribute, original)
        self._seen_queries = set()
        ensure_callback_server_started(self.sc._gateway)
        self.listener = PhaseListener()
        self.pools = list(self.sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans())

    # -- wrappers ------------------------------------------------------
    def _wrap(self, fn, layer):
        spans = self.spans

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.append((layer, fn.__name__, t0, time.time()))

        return timed

    def install(self) -> int:
        wrappers = {}
        for layer, roots in LAYERS.items():
            for root in roots:
                for mod in _modules(root):
                    for name, obj in vars(mod).items():
                        if (not name.startswith("_") and inspect.isfunction(obj)
                                and obj.__module__ == mod.__name__ and obj not in wrappers):
                            wrappers[obj] = self._wrap(obj, layer)
        # rebind every reference the engine holds, including names that
        # other modules imported (``from .ops.window import with_running``)
        for mod in [m for n, m in sys.modules.items() if n == PKG or n.startswith(PKG + ".")]:
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrappers:
                    setattr(mod, name, wrappers[obj])
                    self._swapped.append((mod, name, obj))
        self.spark._jsparkSession.listenerManager().register(self.listener)
        for pool in self.pools:
            pool.resetPeakUsage()
        return len(wrappers)

    def uninstall(self) -> None:
        for mod, name, obj in self._swapped:
            setattr(mod, name, obj)
        self._swapped = []
        self.spark._jsparkSession.listenerManager().unregister(self.listener)

    def pool_peaks_mb(self) -> dict:
        """Peak use since ``install`` summed over the JVM's memory pools, by
        kind (the pools peak at different moments, so this bounds the peak
        of their total from above)."""
        peaks = {"HEAP": 0.0, "NON_HEAP": 0.0}
        for pool in self.pools:
            peaks[pool.getType().name()] += pool.getPeakUsage().getUsed() / MB
        return {"jvm.heap_peak_mb": peaks["HEAP"], "jvm.nonheap_peak_mb": peaks["NON_HEAP"]}

    # -- runner hooks --------------------------------------------------
    def op_start(self, op):
        self._k = len(self.ops)
        self._seen0 = len(self.listener.seen)
        self.sc.setJobGroup(f"perfbench:{self._k}:build", op.name)
        self._e0 = time.time()

    def action_start(self, op):
        self._e1 = time.time()
        self.sc.setJobGroup(f"perfbench:{self._k}:action", op.name)

    def op_end(self, op, df, t0, t1, t2):
        e2 = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        rec = {"name": op.name, "build_s": t1 - t0, "action_s": t2 - t1,
               "e0": self._e0, "e1": self._e1, "e2": e2}
        jsc = self.sc._jsc
        jsc.sc().listenerBus().waitUntilEmpty()  # the listener has seen the action
        ran = dict(self.listener.seen[self._seen0:])
        qe = df._jdf.queryExecution()
        if qe.hashCode() not in ran:  # analyzed in the build, never executed itself
            ran[qe.hashCode()] = {"analysis": phases_ms(qe).get("analysis", 0.0)}
        for phases in ran.values():
            for phase, ms in phases.items():
                rec[f"phase.{phase}"] = rec.get(f"phase.{phase}", 0.0) + ms
        rec["persisted_rdds"] = jsc.getPersistentRDDs().size()
        rec["persisted_mb"] = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / MB
        out = getattr(self.workload, "out", None)
        rec["bytes_written"], rec["files_written"] = dir_bytes(out, since=self._e0) if out else (0, 0)
        batches = batch_ms = 0
        for q in getattr(self.workload, "stream_queries", ()):
            if q.id in self._seen_queries:
                continue
            self._seen_queries.add(q.id)
            for p in q.recentProgress:
                batches += 1
                batch_ms += p.get("durationMs", {}).get("triggerExecution", 0)
        rec["stream_batches"], rec["stream_batch_s"] = batches, batch_ms / 1000.0
        self.ops.append(rec)


# ---------------------------------------------------------------- event log

def _plan_python_accs(node, out):
    names = {m["name"] for m in node.get("metrics", [])}
    if "time to run Python workers" in names:
        for m in node["metrics"]:
            if m["name"] in PY_METRICS:
                out[m["accumulatorId"]] = (PY_METRICS[m["name"]], m.get("metricType", ""))
    for child in node.get("children", []):
        _plan_python_accs(child, out)


def read_event_log(event_dir: str):
    """Jobs, stages and per-task metrics from the single event log file."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {paths}")
    jobs, stage_job, stage_submit, tasks, py_accs = {}, {}, {}, [], {}
    with open(paths[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1000.0,
                                     "group": props.get("spark.jobGroup.id")}
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif ev == "SparkListenerStageSubmitted":
                si = e["Stage Info"]
                stage_submit[si["Stage ID"]] = si.get("Submission Time")
            elif ev == "SparkListenerTaskEnd":
                tasks.append(e)
            elif ev.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                _plan_python_accs(e["sparkPlanInfo"], py_accs)
    return jobs, stage_job, stage_submit, tasks, py_accs


def _task_row(e, stage_submit, py_accs):
    m = e.get("Task Metrics") or {}
    info = e["Task Info"]
    inp = m.get("Input Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    submit = stage_submit.get(e["Stage ID"])
    row = {
        "run_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "queue_s": max(info["Launch Time"] - submit, 0) / 1e3 if submit else 0.0,
        "input_mb": inp.get("Bytes Read", 0) / MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / MB,
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB,
        "failed": 1 if info.get("Failed") else 0,
        "empty": 1 if inp.get("Records Read", 0) + sr.get("Total Records Read", 0) == 0 else 0,
    }
    for k in PY_METRICS.values():
        row["py." + k] = 0.0
    for acc in info.get("Accumulables", []):
        kind = py_accs.get(acc.get("ID"))
        if kind is None or acc.get("Update") is None:
            continue
        key, mtype = kind
        v = float(acc["Update"])
        if key.endswith("_s"):
            v = v / 1e9 if mtype == "nsTiming" else v / 1e3
        elif key.endswith("_mb"):
            v = v / MB
        row["py." + key] += v
    return row


# ---------------------------------------------------------------- report

def _nest(spans):
    """Self time of each span: its duration minus its direct children's."""
    order = sorted(range(len(spans)), key=lambda i: (spans[i][2], -spans[i][3]))
    self_t = [s[3] - s[2] for s in spans]
    parent = [None] * len(spans)
    stack = []
    for i in order:
        while stack and spans[stack[-1]][3] < spans[i][3]:
            stack.pop()
        if stack:
            parent[i] = stack[-1]
            self_t[stack[-1]] -= spans[i][3] - spans[i][2]
        stack.append(i)
    return self_t, parent


def _innermost(spans, t):
    best = None
    for i, (_, _, s, e) in enumerate(spans):
        if s <= t <= e and (best is None or s >= spans[best][2]):
            best = i
    return best


def finish(rec: Recorder, event_dir: str) -> dict:
    """Per-layer metrics (per-operation means) plus the per-seat report."""
    jobs, stage_job, stage_submit, tasks, py_accs = read_event_log(event_dir)
    ops = rec.ops
    n = len(ops)
    spans = rec.spans
    self_t, parent = _nest(spans)

    def op_of(job):
        g = job["group"] or ""
        if g.startswith("perfbench:"):
            _, k, phase = g.split(":")
            return int(k), phase
        for k, o in enumerate(ops):
            if o["e0"] <= job["submit"] <= o["e2"]:
                return k, "build" if job["submit"] < o["e1"] else "action"
        return None, None

    job_op = {j: op_of(v) for j, v in jobs.items()}
    per_op = [{"build_jobs": 0, "jobs": 0, "build_tasks": 0, "stages": set(), "rows": []} for _ in ops]
    layer_jobs = {layer: 0 for layer in LAYERS}
    load_table_jobs = 0
    for j, (k, phase) in job_op.items():
        if k is None:
            continue
        per_op[k]["jobs"] += 1
        if phase == "build":
            per_op[k]["build_jobs"] += 1
            i = _innermost(spans, jobs[j]["submit"])
            if i is not None:
                layer_jobs[spans[i][0]] += 1
                load_table_jobs += spans[i][1] == "load_table"
    for e in tasks:
        j = stage_job.get(e["Stage ID"])
        k, phase = job_op.get(j, (None, None))
        if k is None:
            continue
        per_op[k]["stages"].add(e["Stage ID"])
        per_op[k]["rows"].append(_task_row(e, stage_submit, py_accs))
        if phase == "build":
            per_op[k]["build_tasks"] += 1

    def tsum(key):
        return sum(r[key] for p in per_op for r in p["rows"]) / n

    in_ops = [i for i, s in enumerate(spans) if any(o["e0"] <= s[2] <= o["e2"] for o in ops)]
    layer_self = {layer: sum(self_t[i] for i in in_ops if spans[i][0] == layer) / n for layer in LAYERS}
    top_level = sum(spans[i][3] - spans[i][2] for i in in_ops if parent[i] is None)
    build_total = sum(o["build_s"] for o in ops)
    all_jobs = sum(p["jobs"] for p in per_op)
    n_tasks = sum(len(p["rows"]) for p in per_op)
    lt = [s for s in spans if s[1] == "load_table" and s[0] == "session"]

    def mean_rec(key):
        return sum(o.get(key, 0.0) for o in ops) / n

    # layer sum per operation: the build's own (queries) self time, every
    # engine layer's self time inside the build, and the action
    err = []
    for o in ops:
        inside = [i for i in in_ops if o["e0"] <= spans[i][2] <= o["e2"]]
        top = sum(spans[i][3] - spans[i][2] for i in inside if parent[i] is None)
        layer_sum = o["build_s"] - top + sum(self_t[i] for i in inside) + o["action_s"]
        wall = o["e2"] - o["e0"]
        err.append(abs(layer_sum - wall) / wall)
    v = {
        "queries.build_s": build_total / n,
        "queries.self_s": (build_total - top_level) / n,
        "queries.build_jobs": sum(p["build_jobs"] for p in per_op) / n,
        "queries.build_tasks": sum(p["build_tasks"] for p in per_op) / n,
        "queries.build_job_frac": sum(p["build_jobs"] for p in per_op) / max(all_jobs, 1),
        "session.load_table_s": sum(s[3] - s[2] for s in lt) / n,
        "session.load_table_calls": len(lt) / n,
        "session.load_table_jobs": load_table_jobs / n,
        "catalyst.analysis_ms": mean_rec("phase.analysis"),
        "catalyst.optimization_ms": mean_rec("phase.optimization"),
        "catalyst.planning_ms": mean_rec("phase.planning"),
        "exec.action_s": mean_rec("action_s"),
        "exec.jobs": all_jobs / n,
        "exec.stages": sum(len(p["stages"]) for p in per_op) / n,
        "exec.tasks": n_tasks / n,
        "exec.task_run_s": tsum("run_s"),
        "exec.task_cpu_s": tsum("cpu_s"),
        "exec.gc_s": tsum("gc_s"),
        "exec.queue_s": tsum("queue_s"),
        "exec.input_mb": tsum("input_mb"),
        "exec.shuffle_write_mb": tsum("shuffle_write_mb"),
        "exec.shuffle_fetch_wait_s": tsum("fetch_wait_s"),
        "exec.spill_mb": tsum("spill_mb"),
        "exec.failed_tasks": tsum("failed"),
        "exec.empty_task_frac": tsum("empty") * n / max(n_tasks, 1),
        "core.cache.persisted_rdds_after_op": mean_rec("persisted_rdds"),
        "core.cache.persisted_mb": mean_rec("persisted_mb"),
        "io.write_s": sum(s[3] - s[2] for s in spans if s[0] == "io" and s[1] in IO_WRITES) / n,
        "io.read_s": sum(s[3] - s[2] for s in spans if s[0] == "io" and s[1] in IO_READS) / n,
        "io.bytes_written_mb": mean_rec("bytes_written") / MB,
        "io.files_written": mean_rec("files_written"),
        "streaming.batch_s": mean_rec("stream_batch_s"),
        "streaming.batches": mean_rec("stream_batches"),
        "trace.layer_sum_err_max": max(err),
    }
    for k in PY_METRICS.values():
        v[f"pyworker.{k}"] = tsum("py." + k)
    for layer in LAYERS:
        v[f"{layer}.self_s"] = layer_self[layer]
    for layer in ("ops", "functions", "llm"):
        v[f"{layer}.jobs"] = layer_jobs[layer] / n

    # per-seat rows for the printed report
    seats = {}
    for o, p in zip(ops, per_op):
        seats.setdefault(o["name"], []).append((o["build_s"], o["action_s"], p["build_jobs"], p["jobs"], len(p["rows"])))
    report = [f"  layer sum within 10% of wall on {sum(e <= 0.1 for e in err)}/{n} operations"]
    for name, rows in seats.items():
        cols = list(zip(*rows))
        report.append(f"  {name:34s} build {statistics.median(cols[0]):7.3f} s  action {statistics.median(cols[1]):7.3f} s"
                      f"  build_jobs {statistics.median(cols[2]):5.1f}  jobs {statistics.median(cols[3]):5.1f}"
                      f"  tasks {statistics.median(cols[4]):6.1f}")
    return {k: {"value": float(x), "unit": UNITS[k]} for k, x in v.items()} | {"_report": report}


def traced_window(spark, runner, seconds: float, untraced: dict) -> dict:
    """Run the timed window again with spans and job groups on."""
    rec = Recorder(spark, runner.workload)
    wrapped = rec.install()
    runner.hooks = rec
    try:
        window = runner.timed(seconds)
        peaks = rec.pool_peaks_mb()
    finally:
        runner.hooks = None
        rec.uninstall()
    ops_per_s = window["ops_per_s"]
    untraced_ops_per_s = untraced["ops_per_s"]
    return {
        "_recorder": rec,
        "_wrapped": wrapped,
        "_window": window,
        "trace.ops_per_s": {"value": ops_per_s, "unit": UNITS["trace.ops_per_s"]},
        "trace.ops_per_s_ratio": {"value": ops_per_s / untraced_ops_per_s, "unit": UNITS["trace.ops_per_s_ratio"]},
        **{k: {"value": v, "unit": UNITS[k]} for k, v in peaks.items()},
    }
