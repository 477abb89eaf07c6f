#!/usr/bin/env python3
"""End-to-end benchmark of the dataframes_jl_spark engine.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 15 --trace 0

Run from the repository root. One client drives a closed loop on
``local[N]``, N = the CPUs this process may use; Spark's N task threads
are the only parallelism. Each operation is a build plus its action
(see ``workloads.py``). A run:

1. imports the engine, starts the session, writes the seeded inputs
   (``datagen.py``) under ``.perfbench/`` and runs one cold pass in which
   every operation's output is collected and compared with its DuckDB
   oracle. ``setup_s`` is all of this except the oracle's own time.
2. runs whole passes, each operation after a cache-and-GC drain, until
   the operations have taken ``--seconds`` seconds (at least
   ``MIN_PASSES``). The first timed pass is each operation's second
   execution; the driver JVM compiles with C1 only (see ``start_spark``),
   so it is as fast as the later ones. Every figure is a median over
   passes: ``op_p50_s`` and ``op_p90_s`` are quantiles, over the
   operations, of each operation's median wall (build plus action), and
   ``ops_per_s`` is the median over passes of operations completed per
   busy second.
3. with ``--trace 1``, runs the window again with timing wrappers around
   the engine's public functions, a job group per build and per action,
   and Spark's event log on, then prints the per-layer report
   (``layers.py``).

Every metric prints as ``name value unit``; the last line of standard
output is one JSON object with the end-to-end metrics (``--trace 0``) or
the per-layer ones (``--trace 1``). Each run appends a stamped record
(CPUs, scale, seed, git sha or source digest, Spark version) to
``.perfbench/records.jsonl``; ``compare.py`` compares records only when
their stamps match.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF = 0.1  # scale factor of the generated inputs at --scale 1
MIN_PASSES = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


class _Collected:
    """Hands an already collected result to ``oracle.compare``."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - the name compare() calls
        return self.pdf


def host_probe_s() -> float:
    """Seconds for a fixed single-core Python loop: lets a reader see how
    fast the host ran when a record was taken."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    """Digest of the engine and benchmark sources: identifies the code
    measured when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for top in ("dataframes_jl_spark", "perfbench"):
        for root, dirs, names in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(root, n)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    name = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    return int(name.split("@")[0])


def start_spark(run_dir: str, event_log_dir: str | None):
    """Session through the engine's own factory; every file Spark writes
    stays under ``run_dir``."""
    from dataframes_jl_spark.session import get_spark

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local  # takes precedence over spark.local.dir
    os.environ["TMPDIR"] = local  # PySpark's gateway hand-off file, Python workers
    tempfile.tempdir = local
    jvm_files = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files  # the JVM spark-submit runs first
    conf = {
        "spark.ui.enabled": "false",
        "spark.local.dir": local,
        # Without its adaptive size policy the parallel collector does not
        # resize the heap from pause-time goals, so the JVM's resident size
        # follows what the program allocates and keeps. With G1 the peak
        # RSS of runs of the same work differed by half.
        # TieredStopAtLevel=1 compiles with C1 only. With C2 on, pass times
        # kept falling for ten passes and more (the first two timed passes
        # differed by a fifth), so a run that fits the time budget never
        # measured a steady JVM; with C1 only, every pass after the first
        # execution takes the same time within a few percent.
        "spark.driver.extraJavaOptions": (f"{jvm_files} -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy"
                                          " -XX:TieredStopAtLevel=1"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when its stdin pipe closes, which otherwise happens only at exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def make_drain(spark):
    """Per-operation drain: drop cached tables, collect Python garbage,
    then run a JVM GC and wait until it has registered, so the shuffle
    and broadcast cleanup of one operation does not land in the next."""
    jvm = spark.sparkContext._jvm
    beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def gc_count() -> int:
        return sum(max(b.getCollectionCount(), 0) for b in beans)

    def drain() -> None:
        spark.catalog.clearCache()
        gc.collect()
        before = gc_count()
        jvm.System.gc()
        deadline = time.perf_counter() + 1.0
        while time.perf_counter() < deadline and gc_count() <= before:
            time.sleep(0.02)
        time.sleep(0.05)

    return drain


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Runner:
    """Runs passes of a workload's operations and keeps per-op timings."""

    def __init__(self, spark, workload, drain):
        self.spark = spark
        self.workload = workload
        self.drain = drain
        self.hooks = None  # layers.Recorder during a traced window

    def run_op(self, op, collect: bool):
        if op.before:
            op.before()
        if collect:  # the cold pass is set-up: no GC drain to time around
            self.spark.catalog.clearCache()
        else:
            self.drain()
        hooks = self.hooks
        if hooks:
            hooks.op_start(op)
        t0 = time.perf_counter()
        df = op.build()
        t1 = time.perf_counter()
        if hooks:
            hooks.action_start(op)
        out = df.toPandas() if collect else noop(df)
        t2 = time.perf_counter()
        if hooks:
            hooks.op_end(op, df, t0, t1, t2)
        return t1 - t0, t2 - t1, out

    def check_pass(self):
        """Cold pass: collect each operation and compare with its oracle.
        Returns (seconds spent in the oracle, {op: problems})."""
        from dataframes_jl_spark.oracle import compare

        oracle_s, bad, self.cold = 0.0, {}, {}
        for op in self.workload.ops:
            try:
                b, a, pdf = self.run_op(op, collect=True)
                self.cold[op.name] = b + a
                t = time.perf_counter()
                problems = compare(_Collected(pdf), op.oracle())
                oracle_s += time.perf_counter() - t
            except Exception as exc:  # a failing operation is reported, not fatal
                problems = [f"raised {type(exc).__name__}: {exc}"[:500]]
            if problems:
                bad[op.name] = problems
        self.workload.reset()
        return oracle_s, bad

    def timed(self, seconds: float):
        """Whole passes until the operations have run ``seconds``, and at
        least ``MIN_PASSES``."""
        walls, failed, pass_busy, pass_rates = [], [], [], []
        while len(pass_busy) < MIN_PASSES or (walls and sum(pass_busy) < seconds):
            busy, done = 0.0, 0
            for op in self.workload.ops:
                try:
                    b, a, _ = self.run_op(op, collect=False)
                except Exception as exc:
                    failed.append((op.name, f"{type(exc).__name__}: {exc}"[:300]))
                    continue
                walls.append((op.name, b + a))
                busy += b + a
                done += 1
            if hasattr(self.workload, "stored_bytes_ratio"):
                self.stored_ratio = self.workload.stored_bytes_ratio()
            self.workload.reset()
            pass_busy.append(busy)
            pass_rates.append(done / busy if busy else 0.0)
        return {"walls": walls, "failed": failed, "busy": sum(pass_busy), "pass_busy": pass_busy,
                "passes": len(pass_busy), "ops_per_s": statistics.median(pass_rates)}


def op_medians(window) -> dict:
    """Each operation's median wall across the window's passes."""
    by_op = {}
    for name, wall in window["walls"]:
        by_op.setdefault(name, []).append(wall)
    return {name: statistics.median(v) for name, v in by_op.items()}


def summarize(window) -> dict:
    typical = list(op_medians(window).values())
    q = statistics.quantiles(typical, n=10, method="inclusive") if len(typical) > 1 else [typical[0]] * 9
    return {
        "op_p50_s": statistics.median(typical),
        "op_p90_s": q[8],
        "ops_per_s": window["ops_per_s"],
    }


def emit(name: str, value, unit: str) -> None:
    print(f"{name} {value} {unit}", flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="fact-table row multiplier; 1.0 is sf0.1")
    args = ap.parse_args(argv)
    probe = host_probe_s()

    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "dataframes_jl_spark", "queries.py")):
        print(f"error: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the engine by name (pandas UDF kernels)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # the engine's default heap

    import datagen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    import pyspark

    import dataframes_jl_spark.queries  # noqa: F401 - import cost belongs to set-up

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return measure(args, run_dir, t_start, WORKLOADS[args.workload](), datagen,
                       {"spark": pyspark.__version__, "host_probe_s": round(probe, 4)})
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir, t_start, workload, datagen, env) -> int:
    data_dir = os.path.join(run_dir, "data")
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    phases = {"imports": time.perf_counter() - t_start}

    def phase(name, t0):
        phases[name] = time.perf_counter() - t0
        return time.perf_counter()

    spark = layer = None
    try:
        t = time.perf_counter()
        spark = start_spark(run_dir, event_dir)
        t = phase("session", t)
        datagen.write_tables(data_dir, args.seed, args.scale)
        workload.prepare(spark, data_dir, run_dir, args.seed)
        runner = Runner(spark, workload, make_drain(spark))
        t = phase("inputs", t)
        oracle_s, bad = runner.check_pass()
        t = phase("cold_pass", t)
        phases["oracle_in_cold_pass"] = oracle_s
        setup_s = time.perf_counter() - t_start - oracle_s

        window = runner.timed(args.seconds)
        phase("timed_window", t)
        if not window["walls"]:
            print(f"error: every operation failed: {window['failed'][:3]}", file=sys.stderr)
            return 1
        rss = {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm_pid(spark))}
        metrics = {"setup_s": setup_s, **summarize(window), "peak_rss_mb": sum(rss.values())}
        env["driver_memory"] = spark.conf.get("spark.driver.memory")
        if args.trace:
            import layers

            layer = layers.traced_window(spark, runner, args.seconds, window)
    finally:
        if spark is not None:
            stop_spark(spark)  # also flushes and closes the event log

    windows = [window]
    if layer is not None:
        windows.append(layer.pop("_window"))
        wrapped = layer.pop("_wrapped")
        layer.update(layers.finish(layer.pop("_recorder"), event_dir))
        report = layer.pop("_report")
        layer["io.stored_bytes_ratio"] = {"value": getattr(runner, "stored_ratio", 0.0), "unit": "ratio"}

    run_fail = [f for w in windows for f in w["failed"]]
    attempted = sum(len(w["walls"]) + len(w["failed"]) for w in windows)
    failed = len(run_fail) + sum(1 for w in windows for n, _ in w["walls"] if n in bad)
    stamp = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus(), "sf": SF * args.scale,
        "run_seconds": args.seconds, "trace": args.trace, "git_sha": git_sha(),
        "source_digest": source_digest(), **env,
    }
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print("phases " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()))
    print("cold pass " + " ".join(f"{k}={v:.2f}s" for k, v in runner.cold.items()))
    print("peak rss " + " ".join(f"{k}={v:.0f}MB" for k, v in rss.items()))
    print("timed medians " + " ".join(f"{k}={v:.3f}s" for k, v in op_medians(window).items()))
    print(f"samples {len(window['walls'])} operations in {window['passes']} passes "
          f"({len(workload.ops)} per pass), pass busy " + " ".join(f"{b:.2f}s" for b in window["pass_busy"]))
    print(f"oracle checked {len(workload.ops)} operations, {len(bad)} mismatches")
    for name, problems in sorted(bad.items()):
        print(f"oracle mismatch {name}: {problems[:3]}")
    for name, err in run_fail[:10]:
        print(f"operation failed {name}: {err}")
    emit("failed_frac", failed / attempted, "ratio")
    for k, unit in END_TO_END_UNITS.items():
        emit(k, metrics[k], unit)
    if layer is not None:
        print(f"traced window: {wrapped} engine functions wrapped; per operation (medians):")
        print("\n".join(report))
        for k in sorted(layer):
            emit(k, layer[k]["value"], layer[k]["unit"])
        out_metrics = layer
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END_UNITS.items()}

    record = {"stamp": stamp, "attempted": attempted, "failed": failed,
              "metrics": {k: v["value"] for k, v in out_metrics.items()}}
    with open(os.path.join(WORK, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")
    print(json.dumps({
        "correct": not run_fail and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
