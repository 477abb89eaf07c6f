"""Concentration / inequality measures: Gini coefficient and Lorenz
curve over a grouped value column.

Beyond-reference operator for corpus and revenue auditing — "how
concentrated is the token mass over sources?" / "what share of revenue
do the top decile of customers hold?" is the first question a skew or
curation audit asks at 100 TB.

Determinism contract (the repo's engine-portability discipline): the
value is quantized to an int64 BEFORE any ranking or summation, ranks
come from ``row_number`` over ``(value, tiebreak)`` (equal values may
receive their consecutive ranks in any order — the rank-weighted sum
``Σ i·x_i`` is invariant under permuting equal ``x_i``, so the
tiebreak only pins the row identity, not the statistic), and the
rank-weighted sum accumulates in ``DECIMAL(38,0)`` (rank ≤ n can reach
10^10 and x_i 10^9 at scale — their product overflows int64; a 38-digit
decimal holds Σ i·x_i for any realistic table). The final coefficient
is one float division, floor-quantized.

Scale shape: one shuffle to rank within each group (a keyed sort —
Spark's window external-sorts and spills, so a billion-row group is
slow but safe), one map-side-combining aggregate to |groups| rows.
The Lorenz curve adds an ``ntile`` over the same sorted order — no
extra shuffle (same partitioning/ordering, one window stage).

The UNGROUPED default (``group_by=()``) does NOT plan the
``Window.orderBy`` SinglePartition exchange (every row through one
task — the anti-pattern ops/window.py refuses outright). It routes
the global rank through :func:`ops.sorting.global_row_number` /
:func:`ops.sorting.global_ntile`: range-repartition on the sort key,
per-partition ``row_number`` plus the cumulative partition offsets —
a parallel sampled shuffle. The Σ i·x_i statistic is permutation-
invariant over equal values, so the range-partitioned rank is a
drop-in for the window rank.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _q64(col, scale: int):
    m = F.lit(float(10**scale))
    return F.floor(F.col(col).cast("double") * m + F.lit(0.5)).cast("long")


def gini(
    df: DataFrame,
    value: str,
    group_by: Sequence[str] = (),
    tiebreak: str | None = None,
    scale: int = 2,
    out_scale: int = 6,
) -> DataFrame:
    """Per-group Gini coefficient of ``value``.

    Uses the rank form on ascending-sorted non-negative values:
    ``G = (2·Σ i·x_i) / (n·Σ x) − (n+1)/n`` — exact (no binning), all
    integer until the final division. Negative or NULL values are
    excluded (Gini is defined on non-negative mass). Returns
    ``(*group_by, n, total, gini)`` with ``total`` in quantized units
    (``value·10^scale`` as int64).
    """
    gb = list(group_by)
    x = _q64(value, scale)
    base = (
        df.filter(F.col(value).isNotNull() & (F.col(value) >= 0))
        .select(*gb, x.alias("__x__"), *( [tiebreak] if tiebreak else [] ))
    )
    order = [F.col("__x__")] + ([F.col(tiebreak)] if tiebreak else [])
    if gb:
        w = Window.partitionBy(*gb).orderBy(*order)
        ranked = base.select(
            *gb, "__x__", F.row_number().over(w).alias("__i__")
        )
    else:
        # ungrouped: a bare Window.orderBy funnels every row through one
        # SinglePartition task — use the range-partitioned global rank
        from .sorting import global_row_number

        ranked = global_row_number(base, cols=order, col_name="__i__").select(
            "__x__", "__i__"
        )
    dec = "decimal(38,0)"
    agg = ranked.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x__").alias("total"),
        F.sum(
            (F.col("__i__").cast(dec) * F.col("__x__").cast(dec))
        ).alias("__iwx__"),
    )
    n = F.col("n").cast("double")
    tot = F.col("total").cast("double")
    g = (
        F.lit(2.0) * F.col("__iwx__").cast("double") / (n * tot)
        - (n + F.lit(1.0)) / n
    )
    m = F.lit(float(10**out_scale))
    return agg.select(
        *gb,
        "n",
        "total",
        F.when(
            F.col("total") > 0, F.floor(g * m + F.lit(0.5)) / m
        ).alias("gini"),
    )


def lorenz_deciles(
    df: DataFrame,
    value: str,
    group_by: Sequence[str] = (),
    tiebreak: str | None = None,
    scale: int = 2,
    out_scale: int = 6,
) -> DataFrame:
    """Lorenz curve sampled at deciles: for each group and decile d
    (1..10 over ascending ``value``), the cumulative share of total
    mass held by the bottom d/10 of rows.

    ``ntile(10)`` over the same deterministic order as :func:`gini`;
    equal values split across a decile edge get their decile from the
    tiebreak order — share values are only tiebreak-sensitive when a
    tie straddles an edge, which the tiebreak pins deterministically.
    Returns ``(*group_by, decile, n_rows, cum_share)``.
    """
    gb = list(group_by)
    x = _q64(value, scale)
    base = (
        df.filter(F.col(value).isNotNull() & (F.col(value) >= 0))
        .select(*gb, x.alias("__x__"), *( [tiebreak] if tiebreak else [] ))
    )
    order = [F.col("__x__")] + ([F.col(tiebreak)] if tiebreak else [])
    if gb:
        w = Window.partitionBy(*gb).orderBy(*order)
        tiled = base.select(*gb, "__x__", F.ntile(10).over(w).alias("decile"))
    else:
        # ungrouped: global_ntile reproduces SQL NTILE's group sizing
        # without the SinglePartition window exchange
        from .sorting import global_ntile

        tiled = global_ntile(base, cols=order, k=10, col_name="decile").select(
            "__x__", "decile"
        )
    per = tiled.groupBy(*gb, "decile").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("__x__").alias("__mass__"),
    )
    wc = (
        Window.partitionBy(*gb).orderBy("decile")
        if gb
        else Window.orderBy("decile")
    )
    # cumulative over ≤10 rows per group — the window input is already
    # the decile aggregate, so its partitions are bounded by 10
    cum = F.sum("__mass__").over(
        wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum("__mass__").over(
        wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    m = F.lit(float(10**out_scale))
    share = F.floor(cum.cast("double") / tot.cast("double") * m + F.lit(0.5)) / m
    return per.select(*gb, "decile", "n_rows", share.alias("cum_share"))


def theil_index(
    df: DataFrame,
    value: str,
    group_by: Sequence[str] = (),
    scale: int = 2,
    ln_scale: int = 8,
    out_scale: int = 6,
) -> DataFrame:
    """Per-group Theil-T index of ``value`` — the DECOMPOSABLE
    inequality measure beside :func:`gini`: Gini reads rank
    concentration but cannot be split; Theil is additive across
    subgroups (between + within), which is why audits that slice by
    segment quote it. On positive mass x with total X and count n:

        T = Σ (x/X)·ln(x·n/X) = [Σ x·ln x]/X − ln X + ln n

    (scale-invariant, so the quantized int64 units cancel; 0 = equal,
    ln n = one row holds everything). Zero/negative/NULL values are
    excluded — x·ln x has no finite continuation the estimator
    agrees on, and mass-less rows carry no inequality signal.

    Determinism: values quantize to int64 units once and collapse to
    per-DISTINCT-value counts, so ln runs once per distinct value —
    quantized to ``ln_scale`` decimals (floor(ln(u)·10^ln_scale+0.5),
    the zipf_fit discipline: both engines floor the same libm-ulp
    neighborhood, and the output quantization absorbs the residual).
    Σ c·u·ln_q(u) accumulates in decimal(38,0); the two trailing
    ln calls (ln X, ln n) act on exact integers.

    Scale shape: ONE map-side-combining (group, value) count, one
    bounded regroup over |distinct values| rows, one division each.
    Returns ``(*group_by, n, total, theil)``.
    """
    gb = list(group_by)
    x = _q64(value, scale)
    per_v = (
        df.filter(F.col(value).isNotNull() & (F.col(value) > 0))
        .select(*gb, x.alias("u"))
        .filter(F.col("u") > 0)
        .groupBy(*gb, "u")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lm = F.lit(float(10**ln_scale))
    lq = F.floor(
        F.log(F.col("u").cast("double")) * lm + F.lit(0.5)
    ).cast("long")
    dec = "decimal(38,0)"
    agg = per_v.groupBy(*gb).agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast(dec) * F.col("u").cast(dec)).alias("total"),
        F.sum(
            F.col("c").cast(dec) * F.col("u").cast(dec) * lq.cast(dec)
        ).alias("sxl"),
    )
    nd = F.col("n").cast("double")
    tot = F.col("total").cast("double")
    t = (
        F.col("sxl").cast("double") / tot / lm
        - F.log(tot)
        + F.log(nd)
    )
    om = F.lit(float(10**out_scale))
    return agg.select(
        *gb,
        "n",
        F.col("total").cast("long").alias("total"),
        F.when(
            F.col("n") > 0, F.floor(t * om + F.lit(0.5)) / om
        ).alias("theil"),
    )


def atkinson_index(
    df: DataFrame,
    value: str,
    group_by: Sequence[str] = (),
    scale: int = 2,
    ln_scale: int = 8,
    out_scale: int = 6,
) -> DataFrame:
    """Per-group Atkinson index (ε = 1) of ``value`` — the WELFARE
    member of the inequality lane (gini: rank concentration; theil:
    additive decomposition): Atkinson states inequality as the share
    of total mass society could discard and be equally well off under
    equal division (Atkinson 1970). At inequality-aversion ε = 1 it
    has the closed geometric-mean form

        A = 1 − exp(mean(ln x)) / mean(x)

    (0 = perfect equality, →1 as mass concentrates; scale-invariant,
    so the quantized int64 units cancel exactly as in
    :func:`theil_index`). Zero/negative/NULL values are excluded —
    ln x is undefined there and mass-less rows carry no signal.

    Determinism: the theil_index discipline verbatim — values
    quantize to int64 units once and collapse to per-DISTINCT-value
    counts, ln runs once per distinct value quantized to
    ``ln_scale`` decimals, Σ c·ln_q(u) accumulates in
    decimal(38,0); exp / divide act on identical doubles in both
    engines, floor-quantized on output.

    Scale shape: ONE map-side-combining (group, value) count, one
    bounded regroup over |distinct values| rows. Returns
    ``(*group_by, n, total, atkinson)``.
    """
    gb = list(group_by)
    x = _q64(value, scale)
    per_v = (
        df.filter(F.col(value).isNotNull() & (F.col(value) > 0))
        .select(*gb, x.alias("u"))
        .filter(F.col("u") > 0)
        .groupBy(*gb, "u")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lm = F.lit(float(10**ln_scale))
    lq = F.floor(
        F.log(F.col("u").cast("double")) * lm + F.lit(0.5)
    ).cast("long")
    dec = "decimal(38,0)"
    agg = per_v.groupBy(*gb).agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast(dec) * F.col("u").cast(dec)).alias("total"),
        F.sum(F.col("c").cast(dec) * lq.cast(dec)).alias("sl"),
    )
    nd = F.col("n").cast("double")
    # geometric mean in UNITS: exp(Σ c·ln_q(u) / n / 10^ln_scale);
    # arithmetic mean in the same units: total/n — the ratio is unit-
    # free, so A needs no de-quantization
    a = F.lit(1.0) - F.exp(
        F.col("sl").cast("double") / nd / lm
    ) / (F.col("total").cast("double") / nd)
    om = F.lit(float(10**out_scale))
    return agg.select(
        *gb,
        "n",
        F.col("total").cast("long").alias("total"),
        F.when(
            F.col("n") > 0, F.floor(a * om + F.lit(0.5)) / om
        ).alias("atkinson"),
    )


def hhi_concentration(
    df: DataFrame,
    value: str,
    entity: str,
    group_by: Sequence[str] = (),
    scale: int = 2,
    out_scale: int = 6,
) -> DataFrame:
    """Per-group Herfindahl-Hirschman concentration of ``value`` mass
    over ``entity`` — the market-structure member of the inequality
    lane, and the question antitrust, vendor-risk, and corpus-mixing
    audits actually ask: "is this segment's mass a competitive spread
    or one dominant holder?"

        HHI = Σ_e s_e²,   s_e = mass_e / total

    (1/k = perfectly even over k entities, 1 = monopoly; the US DOJ
    thresholds quote it ×10000). Reported with ``n_entities`` and
    ``top_share`` so the reader sees both the index and its extreme.

    Determinism: per-(group, entity) mass is an exact int64 sum of
    quantized units; HHI = Σ m_e² / (Σ m_e)² is a ratio of exact
    decimal(38,0) integers (squares in decimal — m_e can reach 1e14
    units at 100 TB), so both engines divide identical doubles; one
    floor-quantize on output.

    Scale shape: ONE map-side-combining (group, entity) aggregate is
    the only row-volume job; the HHI fold reduces the bounded
    |groups × entities| table with a second map-side-combining
    aggregate. No window, no join. Returns
    ``(*group_by, n_entities, total, hhi, top_share)``.
    """
    gb = list(group_by)
    x = _q64(value, scale)
    per_e = (
        df.filter(F.col(value).isNotNull() & F.col(entity).isNotNull())
        .select(*gb, F.col(entity).alias("__e__"), x.alias("u"))
        .groupBy(*gb, "__e__")
        .agg(F.sum("u").alias("m"))
        .filter(F.col("m") > 0)
    )
    dec = "decimal(38,0)"
    agg = per_e.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.sum(F.col("m").cast(dec)).alias("total"),
        F.sum(F.col("m").cast(dec) * F.col("m").cast(dec)).alias("ss"),
        F.max("m").alias("mx"),
    )
    tot = F.col("total").cast("double")
    om = F.lit(float(10**out_scale))

    def _q(c):
        return F.floor(c * om + F.lit(0.5)) / om

    return agg.select(
        *gb,
        "n_entities",
        F.col("total").cast("long").alias("total"),
        F.when(
            F.col("n_entities") > 0,
            _q(F.col("ss").cast("double") / (tot * tot)),
        ).alias("hhi"),
        F.when(
            F.col("n_entities") > 0,
            _q(F.col("mx").cast("double") / tot),
        ).alias("top_share"),
    )
