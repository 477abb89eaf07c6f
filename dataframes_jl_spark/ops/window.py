"""Window-function equivalents of the reference's cumulative and
lag-based vector ops (SURVEY §2.5; reference src/operators.jl:58-60).

All take an explicit ordering (and optional partitioning): Spark tables
are unordered, so "cumulative over the frame's row order" must name the
order. Partitioned windows scale (state per key, no global sort).
Whole-column (unpartitioned) cumulatives — the reference's default mode
— go through :func:`with_running` instead of the SinglePartition
exchange a bare ``ORDER BY``-only window would plan; the Column-form
helpers refuse ``partition_by=None`` so the single-task trap cannot be
hit by accident.

This module also holds the engine's one distributed prefix scan,
:func:`_range_parted` + :func:`_pid_carries` (range-partition, freeze
the partition id, collect a per-partition summary, fold exclusive
carries on the driver, ship them back keyed by partition id). It backs
:func:`with_running`, ``ops.sorting.global_row_number`` and
``ops.intervals.merge_intervals``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _window(order_by, partition_by=None) -> WindowSpec:
    order_by = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    if partition_by:
        partition_by = (
            [partition_by] if isinstance(partition_by, str) else list(partition_by)
        )
        return Window.partitionBy(*partition_by).orderBy(*order_by)
    return Window.orderBy(*order_by)


def _require_partition(partition_by, op: str):
    """Column-form cum*/lag helpers are window expressions and cannot
    plan the distributed prefix aggregate themselves; unpartitioned use
    would silently funnel every row through ONE task (SinglePartition
    exchange). Route whole-column cumulatives to :func:`with_running`.
    """
    if not partition_by:
        raise ValueError(
            f"{op}(..., partition_by=None) would plan a single-partition "
            "global window. For whole-column running aggregates use "
            "ops.window.with_running(df, ...), which range-partitions "
            "the ordering and combines per-partition carries instead."
        )


def _running(w: WindowSpec) -> WindowSpec:
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def cumsum(col, order_by, partition_by=None) -> Column:
    """cumsum (reference src/operators.jl:60)."""
    _require_partition(partition_by, "cumsum")
    return F.sum(col).over(_running(_window(order_by, partition_by)))


def cummax(col, order_by, partition_by=None) -> Column:
    _require_partition(partition_by, "cummax")
    return F.max(col).over(_running(_window(order_by, partition_by)))


def cummin(col, order_by, partition_by=None) -> Column:
    _require_partition(partition_by, "cummin")
    return F.min(col).over(_running(_window(order_by, partition_by)))


def _cumprod_aggs(c: Column) -> tuple[Column, Column, Column]:
    """(log-magnitude sum, #negatives, #zeros) aggregates — the
    decomposition that turns a product into window-able sums. log is
    guarded to nonzero inputs so an ANSI session never sees log(0)."""
    log_mag = F.sum(F.when(c != 0, F.log(F.abs(c))))
    n_neg = F.sum(F.when(c < 0, 1).otherwise(0))
    n_zero = F.sum(F.when(c == 0, 1).otherwise(0))
    return log_mag, n_neg, n_zero


def _cumprod_combine(log_mag: Column, n_neg: Column, n_zero: Column) -> Column:
    sign = F.when(n_neg % 2 == 1, -1.0).otherwise(1.0)
    return F.when(n_zero > 0, F.lit(0.0)).otherwise(sign * F.exp(log_mag))


def cumprod(col, order_by, partition_by=None) -> Column:
    """cumprod via exp∘cumsum∘log with sign tracking (no native product
    window aggregate; stays JVM-side)."""
    _require_partition(partition_by, "cumprod")
    c = F.col(col) if isinstance(col, str) else col
    w = _running(_window(order_by, partition_by))
    return _cumprod_combine(*(a.over(w) for a in _cumprod_aggs(c)))


def diff(col, order_by, partition_by=None) -> Column:
    """diff: col - lag(col) (reference src/operators.jl:58)."""
    _require_partition(partition_by, "diff")
    c = F.col(col) if isinstance(col, str) else col
    w = _window(order_by, partition_by)
    return c - F.lag(c).over(w)


def reldiff(col, order_by, partition_by=None) -> Column:
    """reldiff: (col - lag)/lag (reference src/operators.jl:58).
    Zero previous values yield NULL (guarded — identical to the
    non-ANSI x/0 result, but safe under an ANSI session too)."""
    _require_partition(partition_by, "reldiff")
    c = F.col(col) if isinstance(col, str) else col
    w = _window(order_by, partition_by)
    prev = F.lag(c).over(w)
    return F.when(prev != 0, (c - prev) / prev)


def percent_change(col, order_by, partition_by=None) -> Column:
    """percent_change (reference export src/DataFrames.jl:121)."""
    return reldiff(col, order_by, partition_by) * 100.0


_RUNNING_OPS = ("sum", "max", "min", "prod", "diff", "reldiff", "pct_change")
# carries inline as a literal pid->value map up to this many partitions;
# beyond it they ship as ONE broadcast-joined table (a 10k-partition
# frame would otherwise put 20k literals in every combine expression)
_CARRY_MAP_MAX = 512


def with_running(
    df: DataFrame,
    specs: dict,
    order_by,
    partition_by=None,
) -> DataFrame:
    """Running (cumulative / lag) aggregates as a DataFrame transform —
    the scale path for the reference's WHOLE-COLUMN cumulative ops
    (reference src/operators.jl:58-60, where ``cumsum(dv)`` runs over
    the frame's global row order).

    ``specs`` maps output column name -> ``(op, source_col)`` with op in
    ``sum|max|min|prod|diff|reldiff|pct_change``; all requested specs
    are computed in ONE pass. ``order_by`` must be a total ascending
    ordering (add a tie-break column, e.g. a row id).

    With ``partition_by`` this delegates to per-key windows (state per
    key, one hash shuffle). WITHOUT it, a naive ``ORDER BY``-only
    window would plan a SinglePartition exchange — every row through
    one task. Instead this runs the module's prefix scan: per-partition
    running aggregates over the :func:`_range_parted` frame's ``__pid__``
    window, plus per-partition carries from ONE :func:`_pid_carries`
    summary job.

    Carry combine per op: sum adds the prefix total, max/min fold with
    greatest/least, prod folds the (log-magnitude, sign, zero-count)
    decomposition, and the lag family substitutes the previous
    partition's last value for each partition's first row. NULL
    semantics match the window forms exactly (aggregates skip NULLs; a
    NULL previous value yields NULL diff; reldiff guards prev==0 to
    NULL). Division is when-guarded, so ANSI sessions are safe.
    """
    bad = [v[0] for v in specs.values() if v[0] not in _RUNNING_OPS]
    if bad:
        raise ValueError(f"unknown running ops {bad}; valid: {_RUNNING_OPS}")
    ob = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    ob = [F.col(o) if isinstance(o, str) else o for o in ob]

    if partition_by:
        pb = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = Window.partitionBy(*pb).orderBy(*ob)
        wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        out = df
        for name, (op, src) in specs.items():
            c = F.col(src) if isinstance(src, str) else src
            if op in _AGGS:
                e = _AGGS[op](c).over(wr)
            elif op == "prod":
                e = _cumprod_combine(*(a.over(wr) for a in _cumprod_aggs(c)))
            else:
                prev = F.lag(c).over(w)
                e = _lag_combine(op, c, prev)
            out = out.withColumn(name, e)
        return out

    # ---- distributed unpartitioned path: range-partitioned prefix scan ----
    parted = _range_parted(df, ob)
    w = Window.partitionBy("__pid__").orderBy(*ob)
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carry_specs = {}
    for name, (op, src) in specs.items():
        c = F.col(src) if isinstance(src, str) else src
        if op in _FOLDS:
            carry_specs[f"__c_{name}"] = (_AGGS[op](c), _FOLDS[op])
        elif op == "prod":
            for tag, agg in zip("lnz", _cumprod_aggs(c)):
                carry_specs[f"__c{tag}_{name}"] = (agg, _add)
        else:
            # last row's value by ordering; struct-wrap so a NULL value
            # is carried (max_by skips NULL values, structs are not NULL)
            last = F.max_by(F.struct(c.alias("v")), F.struct(*ob))["v"]
            carry_specs[f"__c_{name}"] = (last, _last)
    out, carries, _ = _pid_carries(parted, carry_specs)

    for name, (op, src) in specs.items():
        c = F.col(src) if isinstance(src, str) else src
        if op in _FOLDS:
            carry = carries[f"__c_{name}"]
            local = _AGGS[op](c).over(wr)
            if carry is None:
                e = local
            elif op == "sum":
                e = F.coalesce(local + carry, local, carry)
            else:
                e = (F.greatest if op == "max" else F.least)(local, carry)
        elif op == "prod":
            local_l, local_n, local_z = (a.over(wr) for a in _cumprod_aggs(c))
            cl, cn, cz = (carries[f"__c{tag}_{name}"] for tag in "lnz")
            log_mag = (
                local_l if cl is None else F.coalesce(local_l + cl, local_l, cl)
            )
            n_neg = local_n if cn is None else local_n + F.coalesce(cn, F.lit(0))
            n_zero = local_z if cz is None else local_z + F.coalesce(cz, F.lit(0))
            e = _cumprod_combine(log_mag, n_neg, n_zero)
        else:  # diff / reldiff / pct_change
            carry = carries[f"__c_{name}"]
            prev = F.lag(c).over(w)
            if carry is not None:
                prev = F.when(F.row_number().over(w) == 1, carry).otherwise(prev)
            e = _lag_combine(op, c, prev)
        out = out.withColumn(name, e)
    from ..core.cache import hold

    # df: propagate upstream handles
    return hold(out.drop("__pid__", *carry_specs), parted, df)


def _range_parted(df: DataFrame, order) -> DataFrame:
    """``df`` range-partitioned and locally sorted on ``order``, with
    ``spark_partition_id()`` frozen into a ``__pid__`` column and the
    result persisted (MEMORY_AND_DISK) — the first half of the prefix
    scan shared by :func:`with_running`, ``ops.sorting.global_row_number``
    and ``ops.intervals.merge_intervals``.

    The persist is load-bearing, not a cost lever: the carry-summary
    collect in :func:`_pid_carries` and the caller's action are separate
    jobs, and Spark's range partitioner samples boundaries with an
    RDD-id-dependent seed (the API warns the output "may not be
    consistent" across runs). Once partitions exceed the reservoir
    sample, two jobs could draw different boundaries, rows near a
    boundary would land in different partitions, and the driver carries
    would double-count or drop them silently. Materializing the
    partitioning once pins one boundary draw and one ``__pid__`` per row
    for every job (the contract session.py's cached-output-partitioning
    conf relies on). Callers attach the handle to their result with
    core.cache.hold, so ``dataframes_jl_spark.release(result)`` frees it.
    """
    from pyspark import StorageLevel

    return (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("__pid__", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _pid_carries(parted: DataFrame, specs: dict):
    """Second half of the prefix scan: ONE job collects a per-partition
    summary of every spec over a :func:`_range_parted` frame, and the
    driver folds each into an exclusive prefix carry per partition.

    ``specs`` maps key -> ``(aggregate Column, fold)``, fold one of
    :func:`_add`, :func:`_nan_max`, :func:`_nan_min` (NULL summaries
    skipped, as the aggregates skip NULLs) or :func:`_last` (the
    previous partition's value, NULL included — the lag family).

    Returns ``(frame, carries, totals)``: ``carries[key]`` is a Column
    holding the fold over all EARLIER partitions (NULL for the first),
    or None when that carry is NULL everywhere; ``totals[key]`` is the
    inclusive fold over every partition (None if there are none).
    Carries inline as a literal pid->value map; above _CARRY_MAP_MAX
    partitions they ship as ONE broadcast-joined table whose columns
    are named by the keys, and ``frame`` is ``parted`` with that table
    joined. Build on ``frame`` and drop ``__pid__`` and the keys from
    the result.
    """
    summary_df = parted.groupBy("__pid__").agg(
        *[agg.alias(key) for key, (agg, _) in specs.items()]
    )
    summary = sorted(summary_df.collect(), key=lambda r: r["__pid__"])
    pids = [r["__pid__"] for r in summary]
    series, totals = {}, {}
    for key, (_, fold) in specs.items():
        acc, carried = None, []
        for r in summary:
            carried.append(acc)
            t = r[key]
            if t is not None or fold is _last:
                acc = t if acc is None else fold(acc, t)
        totals[key] = acc
        if any(v is not None for v in carried):
            series[key] = carried

    carries = dict.fromkeys(specs)
    if len(summary) > _CARRY_MAP_MAX and series:
        from pyspark.sql.types import IntegerType, StructField, StructType

        fields = [StructField("__pid__", IntegerType())] + [
            StructField(k, summary_df.schema[k].dataType) for k in series
        ]
        rows = [
            tuple([pid] + [series[k][i] for k in series])
            for i, pid in enumerate(pids)
        ]
        cdf = parted.sparkSession.createDataFrame(rows, StructType(fields))
        carries.update((k, F.col(k)) for k in series)
        return parted.join(F.broadcast(cdf), on="__pid__", how="left"), carries, totals

    for key, carried in series.items():
        items = [(pid, v) for pid, v in zip(pids, carried) if v is not None]
        carries[key] = F.create_map(*[F.lit(x) for pv in items for x in pv])[
            F.col("__pid__")
        ]
    return parted, carries, totals


def _add(a, b):
    return a + b


def _last(a, b):
    """Lag-family fold: the latest partition's value, NULL included."""
    return b


def _nan_max(a, b):
    """Driver-side fold matching Spark's greatest(): NaN orders LARGER
    than every double, so any NaN operand wins the max. Python's bare
    max() is order-dependent on NaN and would disagree with the
    executor-side combine."""
    if isinstance(a, float) and a != a:
        return a
    if isinstance(b, float) and b != b:
        return b
    return max(a, b)


def _nan_min(a, b):
    """least() counterpart: NaN orders larger, so min skips it."""
    if isinstance(a, float) and a != a:
        return b
    if isinstance(b, float) and b != b:
        return a
    return min(a, b)


_AGGS = {"sum": F.sum, "max": F.max, "min": F.min}
_FOLDS = {"sum": _add, "max": _nan_max, "min": _nan_min}


def _lag_combine(op: str, c: Column, prev: Column) -> Column:
    if op == "diff":
        return c - prev
    rel = F.when(prev != 0, (c - prev) / prev)
    return rel if op == "reldiff" else rel * 100.0


def rolling_window(
    order_by,
    preceding: int,
    following: int = 0,
    partition_by=None,
) -> WindowSpec:
    """RANGE-frame window over a NUMERIC ordering expression (e.g.
    microsecond epoch): frame = rows whose key lies in
    ``[current - preceding, current + following]``, boundary-inclusive,
    ties (peers) always included — the time-series rolling frame.

    Partitioned use scales: Spark keeps one sliding aggregate state per
    partition key inside the window exec, so cost is O(rows) after the
    partition shuffle — no per-frame rescan. An unpartitioned rolling
    window plans a SinglePartition sort; require an explicit opt-in by
    passing partition_by=None knowingly (documented, as with the other
    positional ops).
    """
    w = _window(order_by, partition_by)
    return w.rangeBetween(-int(preceding), int(following))


def rolling_stats(
    df: DataFrame,
    value_col: str,
    time_col: str,
    partition_by,
    width_seconds: int,
    scale: int = 4,
) -> DataFrame:
    """Rolling count/sum/mean/std/min/max of ``value_col`` over a
    trailing ``width_seconds`` event-time window per partition key.

    Determinism contract: sum and sum-of-squares are accumulated as
    QUANTIZED int64 (floor(x*10^scale+0.5)) so window-accumulation
    order cannot move the low bits; mean/std are then derived with one
    fixed double-arithmetic shape that an oracle engine can replicate
    op-for-op. |x|*10^scale and the frame totals must fit int64 —
    callers with larger magnitudes lower ``scale``.
    """
    m = float(10**scale)
    key = F.unix_micros(F.col(time_col))
    w = rolling_window(key, width_seconds * 1_000_000, 0, partition_by)
    q = F.floor(F.col(value_col) * F.lit(m) + F.lit(0.5)).cast("long")
    n = F.count(F.lit(1)).over(w)
    s = F.sum(q).over(w)
    sq = F.sum(q * q).over(w)
    mean = s.cast("double") / n / F.lit(m)
    # var = (sum(x^2) - sum(x)^2/n) / (n-1), in original units
    var = (
        sq.cast("double") / F.lit(m * m)
        - (s.cast("double") / F.lit(m)) * (s.cast("double") / F.lit(m)) / n
    ) / (n - F.lit(1))
    return df.select(
        *[c for c in df.columns],
        n.alias("roll_n"),
        (s.cast("double") / F.lit(m)).alias("roll_sum"),
        F.round(mean, 6).alias("roll_mean"),
        F.when(n > 1, F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)).alias(
            "roll_std"
        ),
        F.min(value_col).over(w).alias("roll_min"),
        F.max(value_col).over(w).alias("roll_max"),
    )


def ewma(
    df: DataFrame,
    value_col: str,
    time_col: str,
    partition_by: str,
    alpha: float,
    tiebreak: Sequence[str] = (),
    max_group_rows: int = 5_000_000,
) -> DataFrame:
    """Exponentially-weighted moving average of ``value_col`` per
    partition key in ``time_col`` order (pandas ``ewm(adjust=True)``
    semantics: y_i = sum_j (1-alpha)^(i-j) x_j / sum_j (1-alpha)^(i-j)).

    EWMA is a per-row recursion — not expressible with Spark's window
    frames without an overflow-prone (1-alpha)^(-j) rescaling — so this
    is the documented Pandas-UDF path: groups ship as Arrow batches,
    each computed by pandas' C kernel. ``applyInPandas`` materializes
    one GROUP per pandas frame, so the partition key must be
    fine-grained (a user/session/entity id, never a constant);
    ``max_group_rows`` fails loudly before an executor OOMs silently.

    The batch cross-check for this operator is q_ewma: the final EWMA
    per key must match the closed-form weighted sum computed
    independently (by the DuckDB oracle and by hand) to 6 decimals.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    from pyspark.sql.types import DoubleType, StructField, StructType

    # StructType.add mutates in place — never call it on df.schema
    schema = StructType(
        list(df.schema.fields) + [StructField("ewma", DoubleType())]
    )
    sort_cols = [time_col, *tiebreak]

    def _fn(pdf):
        if len(pdf) > max_group_rows:
            raise ValueError(
                f"ewma group exceeds max_group_rows={max_group_rows} "
                f"({len(pdf)} rows): partition key too coarse for the "
                "per-group pandas path"
            )
        pdf = pdf.sort_values(sort_cols)
        pdf["ewma"] = pdf[value_col].ewm(alpha=alpha, adjust=True).mean()
        return pdf

    return df.groupBy(partition_by).applyInPandas(_fn, schema)
