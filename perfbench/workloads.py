"""Benchmark workloads: what one operation is, and how its output is checked.

A workload is a fixed list of operations run in order; one pass runs each
once. An operation has a *build* (Python and Catalyst work, plus any Spark
job the engine launches while building) that returns a DataFrame, and an
*action* on that DataFrame, which the runner performs. Every operation also
has an oracle: DuckDB SQL over the same generated files, whose answer the
operation's collected output must match (``oracle.compare``, strict).

Why these workloads:

- ``queries``: registry seats of two kinds, chosen from a local[4] profile
  of the bench battery. ``EAGER_STATS`` build through operators that launch
  Spark jobs while the DataFrame is built (driver-side collects, carries,
  persisted caches): build is most of their wall, so a lazy-by-construction
  change moves them. ``PY_UDF`` seats do their work in Python workers
  (image decode through mapInPandas): a change to the Python/Arrow
  boundary moves them and not the other group. The traced run tells the
  two apart by layer.
- ``ingest``: the only workload that writes. Seeded batches go through the
  engine's writers and are read straight back through its readers, so a
  read-side shortcut (a footer memo, a cached listing) shows here if it
  costs writes or returns stale rows. No Python workers run here.

Every input is far below Spark's storage memory, so no workload measures
out-of-cache behaviour. The seat lists are short because every run starts
a fresh JVM whose first pass compiles each operation, and the whole
benchmark (22 runs per workload) must fit its time budget.
"""

from __future__ import annotations

import importlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

EAGER_STATS = (
    "q_kaplan_meier",
    "q_global_running_sum",
    "q_gini_global",
)

# q_kll_sketch is left out: its first execution alone takes 6-9 s and a
# warm one 3 s, more than the run budget holds beside the other seats
PY_UDF = (
    "q_multimodal_decode",
    "q_multimodal_ppm",
)


class Op:
    """One operation: ``build()`` returns the DataFrame the action runs on;
    ``oracle()`` returns DuckDB's answer for the state after this build."""

    def __init__(self, name, build, oracle, before=None):
        self.name = name
        self.build = build
        self.oracle = oracle
        self.before = before  # untimed step that must precede the build


class QueryWorkload:
    """Registry seats: build is ``QUERIES[name](spark, data_dir)``."""

    def __init__(self, seats):
        self.seats = seats

    def prepare(self, spark, data_dir, work_dir, seed):
        from dataframes_jl_spark.oracle import duckdb_run
        from dataframes_jl_spark.queries import ORACLES, QUERIES

        self.ops = [
            Op(
                name,
                lambda q=QUERIES[name]: q(spark, data_dir),
                lambda sql=ORACLES[name]: duckdb_run(sql, data_dir),
            )
            for name in self.seats
        ]

    def reset(self):
        pass


# ---------------------------------------------------------------- ingest

INGEST_BATCHES = 2
INGEST_BATCH_SHARE = 8  # a batch holds 1/8 of its table: 75k lineitem or 12.5k events rows


def _cents(col):
    from pyspark.sql import functions as F

    return F.sum(F.round(F.col(col) * 100).cast("bigint")).alias("cents")


_CENTS_SQL = "CAST(SUM(CAST(ROUND({c} * 100) AS BIGINT)) AS BIGINT) AS cents"


def _duck(sql: str, files):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet({list(files)!r})")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


class IngestWorkload:
    """Per pass, each of ``INGEST_BATCHES`` seeded batches goes through four
    write-then-read steps; output directories are emptied between passes so
    every pass does the same work.

    - ``parquet_append``: ``io.parquet.save`` (append, partitioned by
      returnflag) of a lineitem batch, read back with ``session.load_table``
    - ``zorder``: ``io.layout.zorder_write`` (append) of an events batch,
      read back with ``io.parquet.load_df``
    - ``csv``: ``io.readtable.writetable`` (overwrite) of an events batch,
      read back with ``io.readtable.readtable`` (schema inferred)
    - ``stream``: the batch file lands in a source directory and
      ``streaming.datastream.stream_to_parquet`` (checkpointed,
      ``availableNow``) drains it; read back with ``io.parquet.load_df``

    Each read ends in a selective aggregate, checked against DuckDB over
    every row written to that path so far.
    """

    def prepare(self, spark, data_dir, work_dir, seed):
        from pyspark.sql import functions as F

        # engine functions are looked up on their modules at call time, so
        # the traced run's wrappers see these calls
        from dataframes_jl_spark import session
        from dataframes_jl_spark.io import layout, parquet
        from dataframes_jl_spark.streaming import datastream

        # the package re-exports a function under the module's name
        csv_io = importlib.import_module("dataframes_jl_spark.io.readtable")

        self.out = os.path.join(work_dir, "ingest")
        batch_dir = os.path.join(work_dir, "batches")
        os.makedirs(batch_dir, exist_ok=True)
        rng = np.random.default_rng([seed, 99])
        self.batches = {}
        for table in ("lineitem", "events"):
            t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"))
            order, n = rng.permutation(t.num_rows), t.num_rows // INGEST_BATCH_SHARE
            paths = []
            for i in range(INGEST_BATCHES):
                p = os.path.join(batch_dir, f"{table}_{i}.parquet")
                pq.write_table(t.take(np.sort(order[i * n : (i + 1) * n])), p)
                paths.append(p)
            self.batches[table] = paths
        events_schema = spark.read.parquet(self.batches["events"][0]).schema
        out = self.out
        li, ev = self.batches["lineitem"], self.batches["events"]
        self.stream_queries = []

        def parquet_append(i):
            parquet.save(spark.read.parquet(li[i]), f"{out}/append/lineitem.parquet",
                         partition_by=["l_returnflag"], mode="append")
            df = session.load_table(spark, f"{out}/append", "lineitem")
            return df.where(
                (F.col("l_returnflag") == "R")
                & F.col("l_discount").between(0.05, 0.07)
                & (F.col("l_quantity") < 24)
            ).agg(F.count("*").alias("n"), _cents("l_extendedprice"))

        def zorder(i):
            layout.zorder_write(spark.read.parquet(ev[i]), f"{out}/zorder",
                                ["user_id", "value"], mode="append")
            df = parquet.load_df(spark, f"{out}/zorder")
            return df.where(F.col("user_id").between(100, 400) & (F.col("value") > 50)).groupBy(
                "event_type").agg(F.count("*").alias("n"), _cents("value"))

        def csv(i):
            batch = spark.read.parquet(ev[i]).select("event_id", "user_id", "event_type", "value")
            csv_io.writetable(batch, f"{out}/events.csv")
            df = csv_io.readtable(spark, f"{out}/events.csv")
            return df.where((F.col("event_type") == "purchase") & (F.col("user_id") < 500)).agg(
                F.count("*").alias("n"), _cents("value"))

        def stream_land(i):
            os.makedirs(f"{out}/stream_src", exist_ok=True)
            shutil.copyfile(ev[i], f"{out}/stream_src/events_{i}.parquet")

        def stream(i):
            src = spark.readStream.schema(events_schema).parquet(f"{out}/stream_src")
            q = datastream.stream_to_parquet(src, f"{out}/stream", f"{out}/stream_ckpt")
            q.awaitTermination()
            self.stream_queries.append(q)
            df = parquet.load_df(spark, f"{out}/stream")
            return df.where(F.col("value") > 100).groupBy("event_type").agg(
                F.count("*").alias("n"), _cents("value"))

        where_li = "l_returnflag = 'R' AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"
        sql = {
            "parquet_append": f"SELECT COUNT(*) AS n, {_CENTS_SQL.format(c='l_extendedprice')} "
                              f"FROM t WHERE {where_li}",
            "zorder": f"SELECT event_type, COUNT(*) AS n, {_CENTS_SQL.format(c='value')} FROM t "
                      "WHERE user_id BETWEEN 100 AND 400 AND value > 50 GROUP BY event_type",
            "csv": f"SELECT COUNT(*) AS n, {_CENTS_SQL.format(c='value')} FROM t "
                   "WHERE event_type = 'purchase' AND user_id < 500",
            "stream": f"SELECT event_type, COUNT(*) AS n, {_CENTS_SQL.format(c='value')} FROM t "
                      "WHERE value > 100 GROUP BY event_type",
        }
        # rows on disk at each path after batch i: appends keep every batch
        # so far, the csv overwrite keeps only the last
        files = {
            "parquet_append": lambda i: li[: i + 1],
            "zorder": lambda i: ev[: i + 1],
            "csv": lambda i: ev[i : i + 1],
            "stream": lambda i: ev[: i + 1],
        }
        steps = {"parquet_append": parquet_append, "zorder": zorder, "csv": csv, "stream": stream}
        self.ops = [
            Op(
                f"{kind}/{i}",
                lambda f=fn, i=i: f(i),
                lambda k=kind, i=i: _duck(sql[k], files[k](i)),
                before=(lambda i=i: stream_land(i)) if kind == "stream" else None,
            )
            for i in range(INGEST_BATCHES)
            for kind, fn in steps.items()
        ]
        self._files = files

    def stored_bytes_ratio(self) -> float:
        """Bytes on disk under the output paths over bytes of the generated
        batches whose rows those paths hold (valid at the end of a pass)."""
        last = INGEST_BATCHES - 1
        size = {p: os.path.getsize(p) for ps in self.batches.values() for p in ps}
        stored_in = sum(size[p] for kind in self._files for p in self._files[kind](last))
        outputs = ["append", "zorder", "events.csv", "stream"]
        return sum(dir_bytes(os.path.join(self.out, d))[0] for d in outputs) / stored_in

    def reset(self):
        for q in self.stream_queries:
            q.stop()
        self.stream_queries = []
        shutil.rmtree(self.out, ignore_errors=True)


def dir_bytes(path: str, since: float = 0.0) -> tuple[int, int]:
    """(bytes, data files) under ``path`` modified at or after ``since``
    (epoch seconds), skipping Spark's bookkeeping files and directories."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            p = os.path.join(root, n)
            if n.startswith(("_", ".")) or os.path.getmtime(p) < since:
                continue
            total += os.path.getsize(p)
            files += 1
    return total, files


WORKLOADS = {
    "queries": lambda: QueryWorkload(EAGER_STATS + PY_UDF),
    "ingest": IngestWorkload,
}
