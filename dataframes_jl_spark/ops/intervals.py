"""Overlapping-interval merge (interval union / coverage flattening).

The classic "merge overlapping intervals" op — flatten a set of
[start, end] spans into maximal disjoint spans — appears all over a
training-data pipeline: event sessions into busy periods, matched
duplicate spans into coverage masks (llm/spans.py builds per-doc run
merges the same way), time-range dedup before joins. Per-key merging
is a partitioned window; the hard part is the WHOLE-TABLE merge,
where the textbook single-node algorithm ("sort, then sweep carrying
a running max end") looks inherently sequential.

It isn't: the sweep state that crosses partition boundaries is tiny —
ONE number per partition (the max end seen so far) plus ONE count per
partition (how many groups opened). So the whole-table path is two
rounds of the engine's prefix scan (ops.window._range_parted +
_pid_carries), over one range partition on (start, end, tiebreak):

1. carry A: per-partition max(end) -> exclusive prefix max, NaN
   ordered above every double as in Spark's max/greatest. A row's
   effective preceding max is greatest(local window max, carry), and
   its "opens a new group" flag is a pure executor expression;
2. carry B: per-partition flag totals -> prefix-sum group-id offsets
   (rows before a partition's first flag belong to the last group
   opened earlier, which the offset indexes exactly);
3. gid = local running flag sum + offset; groupBy(gid) aggregates each
   merged span. One data shuffle (the range partition), two
   #partitions-row jobs, one bounded groupBy.

Touching intervals merge (new group only when start > preceding max):
[1,3] + [3,5] -> [1,5].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    partition_by=None,
    tiebreak: tuple[str, ...] = (),
    extra_aggs: dict | None = None,
) -> DataFrame:
    """Merge overlapping/touching [start, end] intervals into maximal
    disjoint spans.

    Returns one row per merged span: ``partition_by`` columns (if
    any), ``gid`` (1-based span index in start order), ``start_col``
    (min), ``end_col`` (max), ``n`` (source-interval count), plus any
    ``extra_aggs`` (name -> Column aggregate expression).

    ``start_col``/``end_col`` must be mutually comparable orderable
    columns (numerics, timestamps); rows with NULL start or end are
    dropped (an unbounded interval has no merge semantics here).
    ``tiebreak`` columns make the sweep ordering total when
    (start, end) ties — required for a deterministic ``gid``.
    """
    aggs = [
        F.min(start_col).alias(start_col),
        F.max(end_col).alias(end_col),
        F.count(F.lit(1)).alias("n"),
    ] + [c.alias(nm) for nm, c in (extra_aggs or {}).items()]
    src = df.filter(F.col(start_col).isNotNull() & F.col(end_col).isNotNull())
    ob = [F.col(start_col), F.col(end_col), *[F.col(t) for t in tiebreak]]

    if partition_by:
        pb = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = Window.partitionBy(*pb).orderBy(*ob)
        pmax = F.max(end_col).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        flag = F.when(
            pmax.isNull() | (F.col(start_col) > pmax), 1
        ).otherwise(0)
        gid = F.sum(flag).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            src.withColumn("gid", gid.cast("bigint"))
            .groupBy(*pb, "gid")
            .agg(*aggs)
        )

    # ---- whole-table path: range partition + two tiny carry jobs ----
    from ..core.cache import hold
    from .window import _add, _nan_max, _pid_carries, _range_parted

    parted = _range_parted(src, ob)
    w = Window.partitionBy("__pid__").orderBy(*ob)
    out, carries, _ = _pid_carries(parted, {"__c_max": (F.max(end_col), _nan_max)})
    pre = F.max(end_col).over(w.rowsBetween(Window.unboundedPreceding, -1))
    if carries["__c_max"] is not None:
        pre = F.greatest(pre, carries["__c_max"])  # greatest skips NULLs
    flag = F.when(pre.isNull() | (F.col(start_col) > pre), 1).otherwise(0)
    out, carries, _ = _pid_carries(
        out.withColumn("__flag__", flag), {"__c_gid": (F.sum("__flag__"), _add)}
    )
    gid = F.sum("__flag__").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if carries["__c_gid"] is not None:
        gid = gid + F.coalesce(carries["__c_gid"], F.lit(0))
    merged = out.withColumn("gid", gid.cast("bigint")).groupBy("gid").agg(*aggs)
    return hold(merged, parted, df)  # df: propagate upstream handles
