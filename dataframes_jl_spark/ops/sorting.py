"""Multi-column sort with per-column direction and NA placement
(reference sort/sort!/sortperm dispatch src/dataframe.jl:1829-1852,
UserColOrdering src/dataframe.jl:1556-1562).

The reference's algorithm selection (RadixSort/MergeSort/TimSort,
src/dataframe.jl:1798-1818) is Tungsten's job — SortExec already picks
radix vs Tim sort; a global sort plans a range-partitioned exchange
which is the correct distributed strategy.

NA placement: reference sorts NAs first (src/indexing.jl:45-50); Spark
ascending default is nulls-first — matching. For descending the wrapper
pins nulls_first to preserve reference behavior unless told otherwise.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class order:
    """Per-column ordering spec (reference ``order(col, rev=true)``,
    UserColOrdering src/dataframe.jl:1556-1562). ``by`` is an optional
    Column expression to sort on instead of the raw column (the
    reference's ``by=f`` computed-key sort)."""

    col: str
    rev: bool = False
    nulls_first: bool = True
    by: Column | None = None

    def to_spark(self) -> Column:
        c = self.by if self.by is not None else F.col(self.col)
        if self.rev:
            return c.desc_nulls_first() if self.nulls_first else c.desc_nulls_last()
        return c.asc_nulls_first() if self.nulls_first else c.asc_nulls_last()


def _resolve(cols, rev: bool) -> list[Column]:
    specs = []
    for c in cols:
        if isinstance(c, order):
            specs.append(c.to_spark())
        elif isinstance(c, Column):
            specs.append(c)
        else:
            specs.append(order(c, rev=rev).to_spark())
    return specs


def sort(
    df: DataFrame,
    cols: str | Sequence | None = None,
    rev: bool = False,
) -> DataFrame:
    """sort(df; cols, rev) (reference src/dataframe.jl:1829-1852).
    Default: all columns left-to-right, like the reference's whole-row
    lexicographic sort."""
    if cols is None:
        cols = df.columns
    elif isinstance(cols, (str, order, Column)):
        cols = [cols]
    return df.orderBy(*_resolve(cols, rev))


def sortperm(df: DataFrame, cols: str | Sequence | None = None, rev: bool = False) -> DataFrame:
    """sortperm (reference src/dataframe.jl:1851-1852): rank of each row
    under the requested ordering, returned as a ``__perm__`` column.
    Delegates to :func:`global_row_number` — range-partitioned rank with
    per-partition offsets, never a single-partition window (costs one
    small eager count job for the offsets)."""
    return global_row_number(df, cols, rev, col_name="__perm__")


def issorted(df: DataFrame, cols: str | Sequence | None = None, rev: bool = False) -> bool:
    """issorted(df; cols) (reference src/dataframe.jl:1824-1825): verify
    via a lag comparison over the claimed order — no collect."""
    if cols is None:
        cols = df.columns
    elif isinstance(cols, (str, order, Column)):
        cols = [cols]
    # compare the claimed-physical order (row ids) to the sorted ranking;
    # both rankings via global_row_number — range-partitioned, never a
    # SinglePartition window (costs two small count jobs)
    with_pos = global_row_number(
        df.withColumn("__mono__", F.monotonically_increasing_id()),
        cols=["__mono__"],
        col_name="__pos__",
    ).drop("__mono__")
    ranked = global_row_number(
        with_pos,
        cols=[*_resolve(cols, rev), F.col("__pos__").asc()],
        col_name="__rank__",
    )
    bad = ranked.filter(F.col("__pos__") != F.col("__rank__")).limit(1).count()
    return bad == 0


def top_k(df: DataFrame, cols, k: int, rev: bool = True) -> DataFrame:
    """sort+head composition (SURVEY §2.6): Catalyst plans
    TakeOrderedAndProject — no full sort, no full shuffle."""
    if isinstance(cols, (str, order, Column)):
        cols = [cols]
    return df.orderBy(*_resolve(cols, rev)).limit(k)


def global_row_number(
    df: DataFrame,
    cols: str | Sequence | None = None,
    rev: bool = False,
    col_name: str = "__row_id__",
    with_total: bool = False,
):
    """Distributed 1-based global rank under the given ordering — the
    scale path for positional semantics (SURVEY §7 hard part #1).

    ``row_number() OVER (ORDER BY …)`` plans a SinglePartition exchange:
    every row through one task. Instead this runs the engine's prefix
    scan (``ops.window._range_parted`` + ``_pid_carries``): per-partition
    row_number plus the row count of all earlier partitions, from one
    tiny count job (#partitions rows collected). Total order requires
    the ordering to be total — add a tie-break column.

    The range-partitioned input is persisted; the handle is attached to
    the result as ``unpersist_handles`` (core.cache.hold). Release it
    with ``dataframes_jl_spark.release(result)`` once the result is
    consumed (or session-wide ``spark.catalog.clearCache()``).
    ``with_total=True`` also returns the exact row total, which the
    count job has already paid for — callers (global_ntile) need no
    second full scan to learn n.
    """
    from ..core.cache import hold
    from .window import _add, _pid_carries, _range_parted

    if cols is None:
        cols = df.columns
    elif isinstance(cols, (str, order, Column)):
        cols = [cols]
    specs = _resolve(cols, rev)
    parted = _range_parted(df, specs)
    out, carries, totals = _pid_carries(
        parted, {"__c_cnt": (F.count(F.lit(1)), _add)}
    )
    rn = F.row_number().over(Window.partitionBy("__pid__").orderBy(*specs))
    if carries["__c_cnt"] is not None:
        rn = rn + F.coalesce(carries["__c_cnt"], F.lit(0))
    out = out.withColumn(col_name, rn.cast("bigint")).drop("__pid__", "__c_cnt")
    out = hold(out, parted, df)  # df: propagate upstream handles
    return (out, totals["__c_cnt"] or 0) if with_total else out


def global_ntile(
    df: DataFrame,
    cols,
    k: int,
    col_name: str = "__ntile__",
    rev: bool = False,
) -> DataFrame:
    """Distributed NTILE: bucket 1..k under a global ordering, without
    the SinglePartition exchange a bare ``ntile() OVER (ORDER BY …)``
    window plans.

    Built on :func:`global_row_number` (range repartition + per-
    partition offsets) plus the closed form
    ``floor((rn - 1) * k / n) + 1``, which reproduces SQL NTILE's
    group sizing exactly (the first ``n mod k`` buckets get the extra
    row). The ordering must be total (add a tie-break column) for the
    buckets to be deterministic.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    # the exact total comes from global_row_number's own offsets count
    # job — a separate df.count() would execute the source lineage a
    # second time (on derived frames that repeats all upstream work)
    ranked, n = global_row_number(
        df, cols=cols, rev=rev, col_name="__gnt_rn__", with_total=True
    )
    return ranked.withColumn(
        col_name,
        (
            F.floor((F.col("__gnt_rn__") - 1) * F.lit(k) / F.lit(max(n, 1)))
            + 1
        ).cast("int"),
    ).drop("__gnt_rn__")
