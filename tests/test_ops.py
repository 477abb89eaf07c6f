"""Ops-layer tests: joins (NA-key semantics), grouping, sorting, setops,
reshape, windows, NA aggregates — metamorphic style where possible."""

from __future__ import annotations

import math
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from dataframes_jl_spark.functions.na import all_na, any_na, na_agg, nareplace
from dataframes_jl_spark.functions.stats import (
    colmeans,
    cor_spearman,
    describe,
)
from dataframes_jl_spark.ops import (
    by,
    colwise,
    cut,
    hcat,
    join,
    melt,
    pivot_table,
    sort,
    unstack,
    vcat,
)
from dataframes_jl_spark.ops.sorting import issorted, order, sortperm, top_k
from dataframes_jl_spark.ops.window import cumprod, cumsum, diff
from dataframes_jl_spark.ops.setops import isequal_df


@pytest.fixture()
def left(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (3, "d")], "k int, lv string"
    )


@pytest.fixture()
def right(spark):
    return spark.createDataFrame(
        [(1, 10.0), (None, 30.0), (4, 40.0)], "k int, rv double"
    )


def test_join_na_keys_match(left, right):
    """Reference join_idx matches NA keys to each other (src/merge.jl:8,30)."""
    inner = join(left, right, on="k", kind="inner")
    rows = {(r.k, r.lv, r.rv) for r in inner.collect()}
    assert (None, "c", 30.0) in rows  # NA key matched
    assert (1, "a", 10.0) in rows
    # Spark-native mode drops NA keys
    inner2 = join(left, right, on="k", kind="inner", na_equal=False)
    assert all(r.k is not None for r in inner2.collect())


def test_join_kinds(left, right):
    assert join(left, right, on="k", kind="left").count() == 4
    assert join(left, right, on="k", kind="right").count() == 3
    assert join(left, right, on="k", kind="outer").count() == 5
    assert join(left, right, on="k", kind="semi").count() == 2
    assert join(left, right, on="k", kind="anti").count() == 2


def test_join_outer_key_coalesced(left, right):
    outer = join(left, right, on="k", kind="outer")
    assert outer.columns == ["k", "lv", "rv"]
    ks = {r.k for r in outer.collect()}
    assert 4 in ks  # right-only key survives in the single key column


def test_join_natural(spark, left, right):
    nat = join(left, right)  # on=None → first common column
    assert nat.count() == 2


def test_by_dict_and_callable(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "g string, v double"
    )
    agg = by(df, "g", {"s": F.sum("v"), "n": F.count(F.lit(1))})
    got = {(r.g, r.s, r.n) for r in agg.collect()}
    assert got == {("a", 4.0, 2), ("b", 5.0, 1)}

    def f(pdf):
        return pdf.assign(v2=pdf.v * 2)[["v2"]]

    applied = by(df, "g", f)  # schema inferred by sampling
    assert {(r.g, r.v2) for r in applied.collect()} == {
        ("a", 2.0),
        ("a", 6.0),
        ("b", 10.0),
    }


def test_by_schema_inference_bounded(spark):
    """Schema inference must NOT materialize a whole (possibly skewed)
    group on the driver — it samples a bounded prefix. A 1M-row single
    group would OOM-or-crawl if the old unbounded toPandas were back;
    the fn also records the largest frame it ever saw during inference.
    """
    seen = {"max_rows": 0}

    def f(pdf):
        seen["max_rows"] = max(seen["max_rows"], len(pdf))
        return pdf[["v"]].sum().to_frame().T.assign(n=len(pdf))

    df = (
        spark.range(1_000_000)
        .withColumn("g", F.lit("one-giant-group"))
        .withColumn("v", F.col("id").cast("double"))
        .select("g", "v")
    )
    from dataframes_jl_spark.ops.grouping import _infer_apply_schema

    schema = _infer_apply_schema(df, ["g"], f)
    # driver-side inference saw a bounded prefix, not the whole group
    assert seen["max_rows"] <= 1024
    assert "v double" in schema and "n bigint" in schema
    out = by(df, "g", f, schema=schema).collect()
    assert out[0]["n"] == 1_000_000


def test_colwise_matches_reference_naming(spark):
    df = spark.createDataFrame([("a", 1.0), ("b", 3.0)], "g string, v double")
    out = colwise(df, ["sum", "mean"], cols=["v"])
    assert out.columns == ["v_sum", "v_mean"]
    grouped = colwise(df, "max", cols=["v"], group_cols=["g"])
    assert set(grouped.columns) == {"g", "v_max"}


def test_sort_order_and_issorted(spark):
    df = spark.createDataFrame(
        [(2, None), (1, 5.0), (3, 1.0), (1, None)], "a int, b double"
    )
    s = sort(df, ["a", order("b", rev=True, nulls_first=False)])
    rows = [(r.a, r.b) for r in s.collect()]
    assert rows == [(1, 5.0), (1, None), (2, None), (3, 1.0)]
    assert issorted(s, ["a"])
    assert not issorted(df.orderBy(F.col("a").desc()), ["a"])


def test_sortperm_topk(spark):
    df = spark.createDataFrame([(10,), (30,), (20,)], "v int")
    perm = {r.v: r["__perm__"] for r in sortperm(df, "v").collect()}
    assert perm == {10: 1, 20: 2, 30: 3}
    tk = top_k(df, "v", 2)
    assert [r.v for r in tk.collect()] == [30, 20]


def test_vcat_union_by_name_promotion(spark):
    a = spark.createDataFrame([(1, "x")], "i int, s string")
    b = spark.createDataFrame([(2.5,)], "i double")
    out = vcat(a, b)
    assert set(out.columns) == {"i", "s"}
    rows = {(r.i, r.s) for r in out.collect()}
    assert rows == {(1.0, "x"), (2.5, None)}  # NA-fill + int→double promotion


def test_hcat_positional(spark):
    a = spark.createDataFrame([(1,), (2,)], "x int")
    b = spark.createDataFrame([("u",), ("v",)], "x string")
    out = hcat(a, b)
    assert out.columns == ["x", "x_1"]  # dedup like reference make_unique
    assert [(r.x, r.x_1) for r in out.collect()] == [(1, "u"), (2, "v")]


def test_isequal_df(spark):
    a = spark.createDataFrame([(1,), (2,)], "x int")
    b = spark.createDataFrame([(2,), (1,)], "x int")
    assert isequal_df(a, b)  # row order irrelevant
    assert not isequal_df(a, spark.createDataFrame([(1,), (1,)], "x int"))


def test_melt_unstack_roundtrip(spark):
    wide = spark.createDataFrame(
        [(1, 10.0, 100.0), (2, 20.0, 200.0)], "id int, m1 double, m2 double"
    )
    long = melt(wide, ["id"])
    assert long.columns == ["id", "variable", "value"]
    assert long.count() == 4
    back = unstack(long, "id", "variable", "value", colkey_values=["m1", "m2"])
    got = {(r.id, r.m1, r.m2) for r in back.collect()}
    assert got == {(1, 10.0, 100.0), (2, 20.0, 200.0)}


def test_pivot_table(spark):
    df = spark.createDataFrame(
        [("r1", "c1", 1.0), ("r1", "c1", 3.0), ("r1", "c2", 5.0)],
        "r string, c string, v double",
    )
    pt = pivot_table(df, "r", "c", "v", "mean", colkey_values=["c1", "c2"])
    row = pt.collect()[0]
    assert row.c1 == 2.0 and row.c2 == 5.0


def test_cut_labels(spark):
    df = spark.createDataFrame([(0.5,), (1.0,), (3.0,), (99.0,)], "v double")
    out = df.select(cut("v", [0, 1, 5]).alias("bin")).collect()
    assert [r.bin for r in out] == ["(0,1]", "(0,1]", "(1,5]", None]


def test_window_cums(spark):
    """Whole-column cumulatives route through with_running (the
    distributed prefix scan); the Column helpers refuse the
    unpartitioned global-window trap outright."""
    from dataframes_jl_spark.ops.window import with_running

    df = spark.createDataFrame(
        [(1, 2.0), (2, -3.0), (3, 4.0)], "t int, v double"
    ).repartition(3)
    rows = (
        with_running(
            df, {"cs": ("sum", "v"), "cp": ("prod", "v"), "d": ("diff", "v")}, "t"
        )
        .orderBy("t")
        .collect()
    )
    assert [r.cs for r in rows] == [2.0, -1.0, 3.0]
    assert [round(r.cp, 9) for r in rows] == [2.0, -6.0, -24.0]
    assert rows[0].d is None and rows[1].d == -5.0
    with pytest.raises(ValueError, match="single-partition"):
        cumsum("v", "t")


def test_with_running_matches_global_window(spark):
    """Every with_running op must equal the single-partition global
    window ground truth — NULLs, zeros, and negatives included."""
    import numpy as np

    from dataframes_jl_spark.ops.window import with_running
    from pyspark.sql import Window

    rng = np.random.default_rng(11)
    vals = rng.normal(size=2000).round(3)
    vals[rng.random(2000) < 0.06] = np.nan
    vals[rng.random(2000) < 0.03] = 0.0
    rows = [
        (int(i), None if np.isnan(v) else float(v)) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "t long, v double").repartition(7)
    specs = {
        "cs": ("sum", "v"),
        "cm": ("max", "v"),
        "cn": ("min", "v"),
        "cp": ("prod", "v"),
        "d": ("diff", "v"),
        "rd": ("reldiff", "v"),
        "pc": ("pct_change", "v"),
    }
    got = with_running(df, specs, "t").orderBy("t").toPandas()
    w = Window.orderBy("t")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v, prev = F.col("v"), F.lag("v").over(w)
    log_mag = F.sum(F.when(v != 0, F.log(F.abs(v)))).over(wr)
    n_neg = F.sum(F.when(v < 0, 1).otherwise(0)).over(wr)
    n_zero = F.sum(F.when(v == 0, 1).otherwise(0)).over(wr)
    sign = F.when(n_neg % 2 == 1, -1.0).otherwise(1.0)
    rel = F.when(prev != 0, (v - prev) / prev)
    exp = (
        df.select(
            "t",
            F.sum("v").over(wr).alias("cs"),
            F.max("v").over(wr).alias("cm"),
            F.min("v").over(wr).alias("cn"),
            F.when(n_zero > 0, 0.0).otherwise(sign * F.exp(log_mag)).alias("cp"),
            (v - prev).alias("d"),
            rel.alias("rd"),
            (rel * 100.0).alias("pc"),
        )
        .orderBy("t")
        .toPandas()
    )
    for c in specs:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        both_nan = np.isnan(g.astype(float)) & np.isnan(e.astype(float))
        assert (both_nan | (np.abs(g - e) < 1e-9)).all(), c


def test_with_running_nan_values_match_global_window(spark):
    """REAL NaN doubles (not NULLs) in the input: the driver-side carry
    fold must match Spark's ordering where NaN is LARGER than every
    double — running max turns NaN after the first NaN, running min
    skips it (round-5 advice: Python's bare max()/min() are
    order-dependent on NaN and disagreed with greatest()/least())."""
    import math

    from dataframes_jl_spark.ops.window import with_running
    from pyspark.sql import Window

    vals = [3.0, float("nan"), -1.0, 7.0, float("nan"), 2.0, -5.0, 4.0]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "t long, v double").repartition(5)
    got = (
        with_running(df, {"cm": ("max", "v"), "cn": ("min", "v")}, "t")
        .orderBy("t")
        .collect()
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exp = (
        df.select("t", F.max("v").over(w).alias("cm"), F.min("v").over(w).alias("cn"))
        .orderBy("t")
        .collect()
    )
    for g, e in zip(got, exp):
        for c in ("cm", "cn"):
            gv, ev = g[c], e[c]
            assert (math.isnan(gv) and math.isnan(ev)) or gv == ev, (
                g.t, c, gv, ev,
            )


@contextmanager
def _spark_conf(spark, key, value):
    """Set one session conf for the block, restoring it afterwards."""
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


# AQE would coalesce a small range shuffle into one partition (one pid,
# no carries at all); the prefix-scan tests below turn this off
_COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _scan_input(spark):
    """3000 ordered rows with NULLs and zeros, spread over 7 partitions."""
    import numpy as np

    rng = np.random.default_rng(5)
    vals = rng.normal(size=3000).round(3)
    vals[rng.random(3000) < 0.05] = np.nan
    vals[rng.random(3000) < 0.02] = 0.0
    rows = [
        (int(i), None if np.isnan(v) else float(v)) for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "t long, v double").repartition(7)


def _with_running(df):
    from dataframes_jl_spark.ops.window import with_running

    specs = {"cs": ("sum", "v"), "cp": ("prod", "v"), "d": ("diff", "v")}
    return with_running(df, specs, "t"), "t"


def _global_row_number(df):
    from dataframes_jl_spark.ops.sorting import global_row_number

    return global_row_number(df, "t"), "t"


def _merge_intervals(df):
    from dataframes_jl_spark.ops.intervals import merge_intervals

    spans = df.select(
        "t",
        F.col("t").alias("s"),
        (F.col("t") + F.abs(F.coalesce("v", F.lit(0.0))) * 3).alias("e"),
    )
    return merge_intervals(spans, "s", "e", tiebreak=("t",)), "gid"


# every operator built on ops.window's range-partitioned prefix scan
_SCAN_USERS = {
    "with_running": _with_running,
    "global_row_number": _global_row_number,
    "merge_intervals": _merge_intervals,
}


def _scan_result(user, df):
    """(collected pandas frame, executed plan string) for one scan user."""
    import dataframes_jl_spark as djs

    out, key = _SCAN_USERS[user](df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    pdf = out.orderBy(key).toPandas()
    djs.release(out)
    return pdf, plan


def _assert_frames_equal(a, b):
    import numpy as np

    assert list(a.columns) == list(b.columns) and len(a) == len(b)
    for c in a.columns:
        x, y = a[c].to_numpy(float), b[c].to_numpy(float)
        nan = np.isnan(x) & np.isnan(y)
        assert (nan | (np.abs(x - y) < 1e-12)).all(), c


@pytest.mark.parametrize("user", sorted(_SCAN_USERS))
def test_with_running_broadcast_carry_path(spark, monkeypatch, user):
    """Above _CARRY_MAP_MAX partitions the carries ship as ONE
    broadcast-joined table instead of literal maps; every user of the
    prefix scan must give bit-identical results, and the plan must
    stay SinglePartition-free."""
    import dataframes_jl_spark.ops.window as W

    df = _scan_input(spark)
    with _spark_conf(spark, _COALESCE, "false"):
        small, plan = _scan_result(user, df)
        assert "BroadcastExchange" not in plan
        monkeypatch.setattr(W, "_CARRY_MAP_MAX", 0)
        big, plan = _scan_result(user, df)
    assert "BroadcastExchange" in plan
    assert "SinglePartition" not in plan
    _assert_frames_equal(small, big)


@pytest.mark.parametrize("user", sorted(_SCAN_USERS))
def test_prefix_scan_ignores_cached_partitioning_conf(spark, user):
    """The partition id is frozen into the persisted range-partitioned
    rows, so letting AQE re-coalesce cached plans cannot hand a row
    another partition's carry: over a multi-partition persisted input,
    each user gives the same values with
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning on and
    off."""
    from dataframes_jl_spark.ops.window import _range_parted

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    results = []
    for value in ("true", "false"):
        with _spark_conf(spark, key, value):
            df = _scan_input(spark).persist()
            assert df.count() == 3000
            results.append(_scan_result(user, df)[0])
            if value == "false":  # the cached range shuffle stays uncoalesced
                parted = _range_parted(df, [F.col("t")])
                assert parted.select("__pid__").distinct().count() > 1
                parted.unpersist()
            df.unpersist()
    _assert_frames_equal(*results)


def test_merge_intervals_fixture_and_paths_agree(spark):
    """Hand-checkable fixture: touching intervals merge, contained
    ones collapse, gaps split; the whole-table carry path and the
    partitioned window path must produce identical spans; NULL bounds
    drop; the whole-table plan stays SinglePartition-free."""
    from dataframes_jl_spark.ops.intervals import merge_intervals

    rows = [
        # (id, s, e) — [1,3]+[3,5] touch -> [1,5]; [4,5] contained;
        # [8,9] alone; [12,15]+[13,14] -> [12,15]
        (1, 1, 3), (2, 3, 5), (3, 4, 5), (4, 8, 9),
        (5, 12, 15), (6, 13, 14), (7, None, 4), (8, 2, None),
    ]
    df = spark.createDataFrame(rows, "id long, s long, e long").repartition(4)
    got = sorted(
        (r.s, r.e, r.n)
        for r in merge_intervals(df, "s", "e", tiebreak=("id",)).collect()
    )
    assert got == [(1, 5, 3), (8, 9, 1), (12, 15, 2)]

    # whole-table == partitioned-by-constant (same sweep, same spans)
    const = df.withColumn("k", F.lit(1))
    via_part = sorted(
        (r.s, r.e, r.n)
        for r in merge_intervals(
            const, "s", "e", partition_by="k", tiebreak=("id",)
        ).collect()
    )
    assert via_part == got

    plan = merge_intervals(df, "s", "e", tiebreak=("id",))._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_merge_intervals_nan_end_carries_across_partitions(spark):
    """A NaN end orders above every double in Spark's max/greatest, so
    the interval carrying it swallows every later one. The whole-table
    path's driver-side carry fold must order NaN the same way, or range
    partitions after the NaN one split off again and the whole-table
    and partitioned paths disagree (2507 spans vs 1501)."""
    from dataframes_jl_spark.ops.intervals import merge_intervals

    rows = [
        (i, float(i), float("nan") if i == 1500 else i + 0.5)
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "id long, s double, e double").repartition(3)
    with _spark_conf(spark, _COALESCE, "false"):  # keep >= 3 range partitions
        whole = sorted(
            (r.gid, r.s, r.n)
            for r in merge_intervals(df, "s", "e", tiebreak=("id",)).collect()
        )
        via_part = sorted(
            (r.gid, r.s, r.n)
            for r in merge_intervals(
                df.withColumn("k", F.lit(1)), "s", "e",
                partition_by="k", tiebreak=("id",),
            ).collect()
        )
    assert len(whole) == 1501
    assert whole[-1] == (1501, 1500.0, 1500)
    assert whole == via_part


def test_table_diff_statuses_and_null_safety(spark):
    """All four statuses on a hand fixture; NULL-to-NULL compares as
    unchanged (eqNullSafe), NULL-to-value as changed."""
    from dataframes_jl_spark.ops.diff import diff_summary, table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, None, 4.0)],
        "k long, v string, x double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (4, None, 4.0), (5, "e", 5.0)],
        "k long, v string, x double",
    )
    got = {r.k: r.status for r in table_diff(old, new, ["k"]).collect()}
    assert got == {
        1: "unchanged",  # identical
        2: "changed",    # NULL -> 2.0
        3: "removed",
        4: "unchanged",  # NULL v on both sides
        5: "added",
    }
    summary = {r.status: r.n for r in diff_summary(old, new, ["k"]).collect()}
    assert summary == {"unchanged": 2, "changed": 1, "removed": 1, "added": 1}


def test_merge_intervals_cross_partition_spans(spark):
    """A long interval that swallows everything after it: the carry max
    must propagate across MANY range partitions, and rows belonging to
    a group opened partitions earlier must inherit its gid."""
    from dataframes_jl_spark.ops.intervals import merge_intervals

    # 0: [0, 10_000] covers all; 1..999: [i*10, i*10+1]
    rows = [(0, 0, 10_000)] + [(i, i * 10, i * 10 + 1) for i in range(1, 1000)]
    df = spark.createDataFrame(rows, "id long, s long, e long").repartition(13)
    out = merge_intervals(df, "s", "e", tiebreak=("id",)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.gid, r.s, r.e, r.n) == (1, 0, 10_000, 1000)


def test_na_agg_propagates(spark):
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], "v double")
    row = df.agg(
        na_agg(F.sum, "v").alias("na_sum"),
        F.sum("v").alias("spark_sum"),
        F.sum(nareplace("v", 0.0)).alias("replaced"),
    ).collect()[0]
    assert row.na_sum is None  # reference semantics: NA propagates
    assert row.spark_sum == 4.0  # Spark semantics: skip nulls
    assert row.replaced == 4.0


def test_tristate_any_all(spark):
    df = spark.createDataFrame([(False,), (None,)], "b boolean")
    row = df.agg(any_na("b").alias("a"), all_na("b").alias("l")).collect()[0]
    assert row.a is None  # no true, some NA → NA (reference tri-state)
    assert row.l is False  # a false is present → all() is definitively False
    df2 = spark.createDataFrame([(True,), (None,)], "b boolean")
    row2 = df2.agg(any_na("b").alias("a"), all_na("b").alias("l")).collect()[0]
    assert row2.a is True  # a true is present → any() definitively True
    assert row2.l is None  # no false, some NA → NA


def test_describe_and_colmeans(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, None), (3.0, 30.0)], "a double, b double"
    )
    d = {r.variable: r for r in describe(df, exact_quantiles=True).collect()}
    assert d["a"].median == 2.0 and d["a"].n_na == 0
    assert d["b"].n_na == 1 and math.isclose(d["b"].na_share, 1 / 3)
    cm = colmeans(df).collect()[0]
    assert cm.a == 2.0 and cm.b == 20.0


def test_cor_spearman(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (4.0, 16.0)], "x double, y double"
    )
    assert math.isclose(cor_spearman(df, "x", "y"), 1.0)


def test_global_row_number_matches_window(spark, tables):
    """Distributed rank == single-partition window rank on a total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.sorting import global_row_number, order

    supp = tables["supplier"]
    got = global_row_number(
        supp, [order("s_acctbal", rev=True), order("s_suppkey")], col_name="rid"
    )
    w = Window.orderBy(F.col("s_acctbal").desc_nulls_first(), F.col("s_suppkey"))
    want = supp.withColumn("rid", F.row_number().over(w).cast("bigint"))
    assert {(r.s_suppkey, r.rid) for r in got.collect()} == {
        (r.s_suppkey, r.rid) for r in want.collect()
    }


def test_global_row_number_no_single_partition(spark, tables):
    import contextlib
    import io

    from dataframes_jl_spark.ops.sorting import global_row_number, order

    out = global_row_number(
        tables["orders"], [order("o_orderkey")], col_name="rid"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "SinglePartition" not in buf.getvalue()


def test_salted_join_equals_plain_join(spark, tables):
    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.skew import salted_join

    orders = tables["orders"].select("o_custkey", "o_totalprice")
    cust = tables["customer"].select("c_custkey", "c_name").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = orders.join(cust, on="o_custkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    salted = salted_join(orders, cust, on="o_custkey", salt=4).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)


# ---------------------------------------------------------------------------
# as-of join / interval join (ops.joins.asof_join / interval_join)
# ---------------------------------------------------------------------------


@pytest.fixture()
def trades(spark):
    return spark.createDataFrame(
        [("A", 10.0, 1), ("A", 20.0, 2), ("B", 15.0, 3), ("B", 35.0, 4)],
        "sym string, t double, trade_id int",
    )


@pytest.fixture()
def quotes(spark):
    return spark.createDataFrame(
        [("A", 5.0, 100.0), ("A", 10.0, 101.0), ("A", 18.0, 102.0),
         ("B", 20.0, 200.0)],
        "sym string, t double, px double",
    )


def test_asof_backward(trades, quotes):
    from dataframes_jl_spark.ops import asof_join

    out = {
        r["trade_id"]: (r["t_matched"], r["px"])
        for r in asof_join(trades, quotes, on="t", by="sym").collect()
    }
    # exact match at t=10 is taken; t=20 takes the t=18 quote
    assert out[1] == (10.0, 101.0)
    assert out[2] == (18.0, 102.0)
    # B@15 has no quote at or before 15 -> nulls; B@35 takes t=20
    assert out[3] == (None, None)
    assert out[4] == (20.0, 200.0)


def test_asof_forward_and_strict(trades, quotes):
    from dataframes_jl_spark.ops import asof_join

    fwd = {
        r["trade_id"]: (r["t_matched"], r["px"])
        for r in asof_join(trades, quotes, on="t", by="sym", direction="forward").collect()
    }
    assert fwd[1] == (10.0, 101.0)      # exact forward match
    assert fwd[3] == (20.0, 200.0)      # next quote after 15
    assert fwd[4] == (None, None)       # nothing after 35
    strict = {
        r["trade_id"]: (r["t_matched"], r["px"])
        for r in asof_join(
            trades, quotes, on="t", by="sym", allow_exact_matches=False
        ).collect()
    }
    assert strict[1] == (5.0, 100.0)    # t=10 quote excluded when strict


def test_asof_tolerance(trades, quotes):
    from dataframes_jl_spark.ops import asof_join

    out = {
        r["trade_id"]: r["px"]
        for r in asof_join(trades, quotes, on="t", by="sym", tolerance=1.5).collect()
    }
    assert out[1] == 101.0              # distance 0 <= 1.5
    assert out[2] is None               # nearest is 2.0 away -> nulled


def test_interval_join_bucketed_matches_plain(spark):
    from dataframes_jl_spark.ops import interval_join

    pts = spark.createDataFrame([(float(x),) for x in range(0, 50)], "v double")
    iv = spark.createDataFrame(
        [(i, i * 3.0, i * 3.0 + 4.0) for i in range(12)],
        "band int, lo double, hi double",
    )
    plain = interval_join(pts, iv, "v", "lo", "hi")
    bucketed = interval_join(pts, iv, "v", "lo", "hi", bucket_width=5.0)
    a = sorted((r["v"], r["band"]) for r in plain.collect())
    b = sorted((r["v"], r["band"]) for r in bucketed.collect())
    assert a == b and len(a) > 0


def test_interval_join_with_keys(spark):
    from dataframes_jl_spark.ops import interval_join

    pts = spark.createDataFrame(
        [("x", 5.0), ("y", 5.0)], "grp string, v double"
    )
    iv = spark.createDataFrame(
        [("x", 0.0, 10.0)], "grp string, lo double, hi double"
    )
    got = interval_join(pts, iv, "v", "lo", "hi", keys=["grp"],
                        bucket_width=4.0).collect()
    assert [(r["grp"], r["v"]) for r in got] == [("x", 5.0)]


# ---------------------------------------------------------------------------
# sampling (ops.sampling)
# ---------------------------------------------------------------------------


def test_sample_seeded_and_sized(spark):
    from dataframes_jl_spark.ops import sample

    df = spark.range(10_000)
    a = sample(df, 0.1, seed=7).count()
    b = sample(df, 0.1, seed=7).count()
    assert a == b                      # same seed, same partitioning -> same rows
    assert 800 <= a <= 1200            # ~Binomial(10000, 0.1), +-4 sigma


def test_sample_by_stratified(spark):
    from dataframes_jl_spark.ops import sample_by

    df = spark.range(10_000).withColumn(
        "grp", (F.col("id") % 2 == 0).cast("string")
    )
    got = sample_by(df, "grp", {"true": 0.5, "false": 0.05}, seed=7)
    counts = {r["grp"]: r["n"] for r in got.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert 2200 <= counts["true"] <= 2800      # ~2500
    assert 150 <= counts["false"] <= 350       # ~250 - dominant stratum downsampled


def test_systematic_sample_partition_invariant(spark):
    from dataframes_jl_spark.ops import systematic_sample

    df = spark.range(1000)
    a = sorted(r["id"] for r in systematic_sample(df, "id", 7, 2).collect())
    b = sorted(
        r["id"]
        for r in systematic_sample(df.repartition(13), "id", 7, 2).collect()
    )
    assert a == b == [x for x in range(1000) if x % 7 == 2]


def test_row_reductions_values_and_na_skip(spark):
    """Row-wise family: NA-skip semantics, zeros, negatives, all-null
    rows -> NA (generator src/operators.jl:66-68 named these but never
    emitted bodies; this is the real contract)."""
    from dataframes_jl_spark.functions.stats import (
        row_reduce,
        rowmaxs,
        rowmeans,
        rowmedians,
        rowmins,
        rownorms,
        rowprods,
        rowstds,
        rowsums,
        rowvars,
    )

    df = spark.createDataFrame(
        [
            (1, 1.0, 2.0, 3.0),
            (2, -4.0, 0.0, 2.0),
            (3, 5.0, None, 1.0),
            (4, None, None, None),
        ],
        "id int, a double, b double, c double",
    )
    cols = ["a", "b", "c"]
    out = df
    for fn in (
        rowmins,
        rowmaxs,
        rowsums,
        rowmeans,
        rowmedians,
        rowprods,
        rowstds,
        rowvars,
        rownorms,
    ):
        out = fn(out, cols)
    rows = {r.id: r for r in out.collect()}

    r1 = rows[1]
    assert (r1.rowmin, r1.rowmax, r1.rowsum) == (1.0, 3.0, 6.0)
    assert r1.rowmean == 2.0 and r1.rowmedian == 2.0 and r1.rowprod == 6.0
    assert r1.rowvar == 1.0 and r1.rowstd == 1.0
    assert abs(r1.rownorm - math.sqrt(14.0)) < 1e-12

    r2 = rows[2]
    assert (r2.rowmin, r2.rowmax, r2.rowprod) == (-4.0, 2.0, 0.0)
    assert r2.rowmedian == 0.0 and r2.rowsum == -2.0

    r3 = rows[3]  # NA skipped: reduces over {5.0, 1.0}
    assert (r3.rowmin, r3.rowmax, r3.rowsum) == (1.0, 5.0, 6.0)
    assert r3.rowmean == 3.0 and r3.rowmedian == 3.0
    assert r3.rowvar == 8.0

    r4 = rows[4]  # nothing to reduce
    assert all(
        getattr(r4, f) is None
        for f in (
            "rowmin",
            "rowmax",
            "rowsum",
            "rowmean",
            "rowmedian",
            "rowprod",
            "rowstd",
            "rowvar",
            "rownorm",
        )
    )

    with pytest.raises(KeyError):
        row_reduce(df, "bogus", cols)
    # single-value rows: var/std need n>1 -> NA
    one = spark.createDataFrame([(1.0, None)], "a double, b double")
    r = rowvars(rowstds(one, ["a", "b"]), ["a", "b"]).collect()[0]
    assert r.rowstd is None and r.rowvar is None


def test_colprods_zero_guard(spark):
    """A column containing 0 must product to 0, not to the product of
    the non-zero elements (log(0)=NULL is skipped by SUM)."""
    from dataframes_jl_spark.functions.stats import colprods

    df = spark.createDataFrame(
        [(2.0, 3.0), (0.0, -4.0), (5.0, 1.0)], "z double, n double"
    )
    r = colprods(df).collect()[0]
    assert r.z == 0.0 and abs(r.n - (-12.0)) < 1e-9


# ----------------------------------------------------- rolling / privacy


def test_rolling_stats_trailing_window(spark):
    from datetime import datetime

    from dataframes_jl_spark.ops.window import rolling_stats

    rows = [
        (1, 10, datetime(2024, 1, 1, 10, 0, 0), 1.0),
        (1, 11, datetime(2024, 1, 1, 10, 30, 0), 2.0),
        (1, 12, datetime(2024, 1, 1, 11, 15, 0), 4.0),   # 10:00 out of frame
        (2, 20, datetime(2024, 1, 1, 10, 0, 0), 10.0),   # other user untouched
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    out = {
        r.event_id: r
        for r in rolling_stats(
            df, "value", "ts", "user_id", width_seconds=3600
        ).collect()
    }
    assert (out[10].roll_n, out[10].roll_sum) == (1, 1.0)
    assert (out[11].roll_n, out[11].roll_sum, out[11].roll_mean) == (2, 3.0, 1.5)
    # at 11:15 the trailing hour holds 10:30 and 11:15 only
    assert (out[12].roll_n, out[12].roll_sum, out[12].roll_min, out[12].roll_max) == (
        2, 6.0, 2.0, 4.0,
    )
    assert out[10].roll_std is None  # n=1 -> undefined
    assert out[20].roll_n == 1


def test_rolling_window_boundary_inclusive(spark):
    from datetime import datetime

    from dataframes_jl_spark.ops.window import rolling_stats

    rows = [
        (1, 1, datetime(2024, 1, 1, 10, 0, 0), 1.0),
        (1, 2, datetime(2024, 1, 1, 11, 0, 0), 2.0),  # exactly width back
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    out = {r.event_id: r for r in rolling_stats(df, "value", "ts", "user_id", 3600).collect()}
    assert out[2].roll_n == 2  # [t-1h, t] inclusive


def test_k_anonymize_suppresses_small_groups(spark):
    from dataframes_jl_spark.ops.privacy import k_anonymize, k_anonymity_report

    rows = [("a", "x", i) for i in range(5)] + [("b", "y", 9)]
    df = spark.createDataFrame(rows, "g string, h string, v bigint")
    kept = k_anonymize(df, ["g", "h"], k=3)
    assert kept.count() == 5
    assert {r.g for r in kept.collect()} == {"a"}
    rep = k_anonymity_report(df, ["g", "h"], k=3).collect()[0]
    assert (
        rep.k_anonymity, rep.groups_kept, rep.groups_suppressed,
        rep.rows_kept, rep.rows_suppressed,
    ) == (1, 1, 1, 5, 1)


def test_k_anonymize_validates_k(spark):
    import pytest as _pytest

    from dataframes_jl_spark.ops.privacy import k_anonymize

    df = spark.createDataFrame([("a", 1)], "g string, v bigint")
    with _pytest.raises(ValueError):
        k_anonymize(df, ["g"], k=0)


def test_ewma_matches_closed_form(spark):
    from datetime import datetime

    from dataframes_jl_spark.ops.window import ewma

    xs = [1.0, 2.0, 4.0, 8.0]
    rows = [(1, i, datetime(2024, 1, 1, 10, i), x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    out = (
        ewma(df, "value", "ts", "user_id", alpha=0.5, tiebreak=["event_id"])
        .orderBy("event_id")
        .collect()
    )
    a = 0.5
    for i, r in enumerate(out):
        ws = [(1 - a) ** (i - j) for j in range(i + 1)]
        expect = sum(w * x for w, x in zip(ws, xs)) / sum(ws)
        assert abs(r.ewma - expect) < 1e-12, (i, r.ewma, expect)


def test_ewma_group_guard_and_alpha(spark):
    import pytest as _pytest

    from dataframes_jl_spark.ops.window import ewma

    from datetime import datetime

    rows = [(1, i, datetime(2024, 1, 1), float(i)) for i in range(10)]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, value double"
    )
    with _pytest.raises(ValueError):
        ewma(df, "value", "ts", "user_id", alpha=0.0)
    with _pytest.raises(Exception):  # Py4J wraps the worker's ValueError
        ewma(df, "value", "ts", "user_id", alpha=0.5, max_group_rows=5).collect()


# ------------------------------------------------------------------ scd2


def test_scd2_merge_cases(spark):
    from dataframes_jl_spark.ops import scd2_merge

    dim = spark.createDataFrame(
        [
            # k=1: history + open version that WILL change
            (1, "a", "2024-01-01", "2024-02-01"),
            (1, "b", "2024-02-01", None),
            # k=2: open version, update arrives with SAME attrs -> untouched
            (2, "x", "2024-01-15", None),
            # k=3: open version, no update -> untouched
            (3, "z", "2024-01-20", None),
        ],
        "k bigint, attr string, valid_from string, valid_to string",
    )
    updates = spark.createDataFrame(
        [
            (1, "c", "2024-03-01"),   # change
            (2, "x", "2024-03-01"),   # no-op
            (9, "new", "2024-03-01"), # brand-new key
        ],
        "k bigint, attr string, eff string",
    )
    out = scd2_merge(dim, updates, ["k"], ["attr"], "eff")
    rows = {(r.k, r.attr, r.valid_from): r.valid_to for r in out.collect()}
    assert len(rows) == 6
    assert rows[(1, "a", "2024-01-01")] == "2024-02-01"   # history untouched
    assert rows[(1, "b", "2024-02-01")] == "2024-03-01"   # closed out
    assert rows[(1, "c", "2024-03-01")] is None           # new open version
    assert rows[(2, "x", "2024-01-15")] is None           # no-op unchanged
    assert rows[(3, "z", "2024-01-20")] is None           # untouched
    assert rows[(9, "new", "2024-03-01")] is None         # inserted


def test_scd2_from_log_nullsafe_and_roundtrip(spark):
    from dataframes_jl_spark.ops import scd2_from_log

    log = spark.createDataFrame(
        [
            (1, 1, None), (1, 2, None),    # NULL==NULL: ONE interval
            (1, 3, "a"), (1, 4, "a"), (1, 5, "b"),
            (2, 1, "q"),
        ],
        "k bigint, ts bigint, attr string",
    )
    out = scd2_from_log(log, ["k"], ["attr"], "ts")
    got = sorted(
        ((r.k, r.attr, r.valid_from, r.valid_to) for r in out.collect()),
        key=lambda t: (t[0], t[2]),
    )
    assert got == [
        (1, None, 1, 3),
        (1, "a", 3, 5),
        (1, "b", 5, None),
        (2, "q", 1, None),
    ]


def test_grouped_ols_recovers_known_line(spark):
    from dataframes_jl_spark.functions.stats import grouped_ols

    # group g1: exact line y = 2x + 3 (R² = 1); g2: constant x (degenerate)
    rows = [("g1", float(x), 2.0 * x + 3.0) for x in range(1, 8)]
    rows += [("g2", 5.0, float(y)) for y in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r.g: r for r in grouped_ols(df, "g", "x", "y").collect()}
    assert abs(out["g1"].slope - 2.0) < 1e-9
    assert abs(out["g1"].intercept - 3.0) < 1e-9
    assert abs(out["g1"].r2 - 1.0) < 1e-9
    assert out["g2"].slope is None  # zero x-variance -> undefined, not inf


def test_funnel_ordered_semantics(spark):
    from dataframes_jl_spark.ops import funnel_counts, funnel_steps

    rows = [
        # u1: full ordered funnel
        (1, "view", 1), (1, "click", 2), (1, "buy", 3),
        # u2: clicked BEFORE viewing -> click does not count
        (2, "click", 1), (2, "view", 2), (2, "buy", 3),
        # u3: view only
        (3, "view", 5),
    ]
    df = spark.createDataFrame(rows, "u bigint, et string, ts bigint")
    per = {r.u: (r.step_0, r.step_1, r.step_2)
           for r in funnel_steps(df, "u", "et", "ts", ["view", "click", "buy"]).collect()}
    assert per[1] == (1, 2, 3)
    assert per[2] == (2, None, None)  # strictly-after enforced
    assert per[3] == (5, None, None)
    counts = {r.step: (r.n_users, round(r.conversion, 4))
              for r in funnel_counts(df, "u", "et", "ts", ["view", "click", "buy"]).collect()}
    assert counts["view"] == (3, 1.0)
    assert counts["click"] == (1, round(1 / 3, 4))
    assert counts["buy"] == (1, 1.0)


def test_cohort_retention_known_matrix(spark):
    from dataframes_jl_spark.ops.scd import cohort_retention

    # two daily cohorts: u1,u2 start day 1 (u2 churns), u3 starts day 2
    rows = [
        (1, "2024-01-01"), (1, "2024-01-02"), (1, "2024-01-03"),
        (2, "2024-01-01"),
        (3, "2024-01-02"), (3, "2024-01-03"),
    ]
    df = spark.createDataFrame(rows, "u bigint, d string").select(
        "u", F.col("d").cast("timestamp").alias("ts")
    )
    out = {
        (str(r.cohort)[:10], r.period_offset): (r.n_active, round(r.retention, 4))
        for r in cohort_retention(df, "u", "ts", period="day").collect()
    }
    assert out[("2024-01-01", 0)] == (2, 1.0)
    assert out[("2024-01-01", 1)] == (1, 0.5)   # only u1 returns
    assert out[("2024-01-01", 2)] == (1, 0.5)
    assert out[("2024-01-02", 0)] == (1, 1.0)   # u3's own cohort
    assert out[("2024-01-02", 1)] == (1, 1.0)
    import pytest
    with pytest.raises(ValueError):
        cohort_retention(df, "u", "ts", period="week")


def test_pagerank_triangle_known_values(spark):
    from dataframes_jl_spark.ops import pagerank

    # A->B, A->C, B->C, C->A: C collects the most rank, then A, then B
    e = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")], "src string, dst string"
    )
    out = {r.id: r.rank for r in pagerank(e, n_iter=1).collect()}
    # one hand-computed iteration from uniform 1/3 (d=0.85, base=0.05)
    assert abs(out["A"] - (0.05 + 0.85 / 3)) < 1e-6
    assert abs(out["B"] - (0.05 + 0.85 / 6)) < 1e-6
    assert abs(out["C"] - (0.05 + 0.85 * 0.5)) < 1e-6
    # converged solution of the damped system: C > A > B
    out20 = {r.id: r.rank for r in pagerank(e, n_iter=20).collect()}
    assert out20["C"] > out20["A"] > out20["B"]
    assert abs(sum(out20.values()) - 1.0) < 1e-3  # no dangling nodes
    # deterministic: re-run bit-identical
    assert out20 == {r.id: r.rank for r in pagerank(e, n_iter=20).collect()}


def test_grouped_ols_ignores_incomplete_rows(spark):
    """A NULL in x or y must drop the ROW (regr_slope convention), not
    desync n from the moment sums (code-review finding)."""
    from dataframes_jl_spark.functions.stats import grouped_ols

    rows = [("g", 1.0, 1.0), ("g", 2.0, 2.0), ("g", None, 100.0), ("g", 3.0, None)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = grouped_ols(df, "g", "x", "y").collect()[0]
    assert out.n == 2
    assert abs(out.slope - 1.0) < 1e-9 and abs(out.intercept) < 1e-9


def test_scd2_merge_rejects_extra_columns(spark):
    from dataframes_jl_spark.ops import scd2_merge

    dim = spark.createDataFrame(
        [(1, "a", "2024-01-01", None, 99)],
        "k bigint, attr string, valid_from string, valid_to string, load_id bigint",
    )
    ups = spark.createDataFrame([(1, "b", "2024-02-01")], "k bigint, attr string, eff string")
    with pytest.raises(ValueError, match="load_id"):
        scd2_merge(dim, ups, ["k"], ["attr"], "eff")


def test_pagerank_empty_edges_raises(spark):
    from dataframes_jl_spark.ops import pagerank

    e = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="empty edge set"):
        pagerank(e, n_iter=1)


def test_global_ntile_matches_sql_ntile_sizing(spark):
    from dataframes_jl_spark.ops import global_ntile
    from dataframes_jl_spark.ops.sorting import order

    df = spark.createDataFrame([(i,) for i in range(10)], "v bigint")
    out = {r.v: r["__ntile__"] for r in global_ntile(df, [order("v")], k=3).collect()}
    # NTILE(3) over 10 rows: first bucket gets the extra row (4,3,3)
    assert [out[i] for i in range(10)] == [1, 1, 1, 1, 2, 2, 2, 3, 3, 3]
    # n=4, k=3 -> 2,1,1
    df4 = spark.createDataFrame([(i,) for i in range(4)], "v bigint")
    out4 = [r["__ntile__"] for r in
            global_ntile(df4, [order("v")], k=3).orderBy("v").collect()]
    assert out4 == [1, 1, 2, 3]
    import pytest
    with pytest.raises(ValueError):
        global_ntile(df, [order("v")], k=0)


def test_scd2_lookup_point_in_time(spark):
    from dataframes_jl_spark.ops.scd import scd2_lookup

    dim = spark.createDataFrame(
        [
            (1, "a", 10, 20),
            (1, "b", 20, 30),     # closed at 30; GAP [30, 40)
            (1, "c", 40, None),   # current
            (2, "z", 5, None),
        ],
        "k bigint, attr string, valid_from bigint, valid_to bigint",
    )
    facts = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 25), (1, 35), (1, 100), (2, 7), (3, 50)],
        "k bigint, ts bigint",
    )
    got = {(r.k, r.ts): r.attr
           for r in scd2_lookup(facts, dim, ["k"], "ts").collect()}
    assert got[(1, 5)] is None      # before first version
    assert got[(1, 10)] == "a"      # valid_from inclusive
    assert got[(1, 25)] == "b"
    assert got[(1, 35)] is None     # gap: version b already closed
    assert got[(1, 100)] == "c"     # open current version
    assert got[(2, 7)] == "z"
    assert got[(3, 50)] is None     # unknown key keeps left row


def test_bloom_prefilter_no_false_negatives(spark):
    import random

    from dataframes_jl_spark.ops import bloom_build, bloom_prefilter

    rng = random.Random(31)
    members = [rng.randrange(10**12) for _ in range(300)]
    build = spark.createDataFrame([(m,) for m in members], "key bigint")
    bloom = bloom_build(build, "key", m_bits=4096, k=4)
    probes = members + [rng.randrange(10**12) for _ in range(3000)]
    pdf = spark.createDataFrame([(p,) for p in probes], "key bigint")
    out = {r.key: r["__bloom_pass__"]
           for r in bloom_prefilter(pdf, "key", bloom, m_bits=4096, k=4).collect()}
    # the defining property: every member passes
    assert all(out[m] for m in members)
    # and the filter actually filters (fpr well under 50% at this sizing)
    non_members = [p for p in probes if p not in set(members)]
    fpr = sum(1 for p in non_members if out[p]) / len(non_members)
    assert fpr < 0.2, fpr
    # rows with duplicate keys all carry the flag
    dup = spark.createDataFrame([(members[0],), (members[0],)], "key bigint")
    flags = [r["__bloom_pass__"] for r in
             bloom_prefilter(dup, "key", bloom, m_bits=4096, k=4).collect()]
    assert flags == [True, True]


def test_cm_sketch_never_undercounts(spark):
    import random
    from collections import Counter

    from dataframes_jl_spark.ops.bloom import cm_build, cm_estimate

    rng = random.Random(41)
    vals = [rng.randrange(50) for _ in range(2000)]
    truth = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "key bigint")
    sketch = cm_build(df, "key", width=32, depth=3)  # undersized on purpose
    est = {r.key: r.cm_count
           for r in cm_estimate(df, "key", sketch, width=32, depth=3).collect()}
    assert set(est) == set(truth)
    for k, tc in truth.items():
        assert est[k] >= tc  # the Count-Min invariant
    # determinism
    est2 = {r.key: r.cm_count
            for r in cm_estimate(df, "key", sketch, width=32, depth=3).collect()}
    assert est == est2


def test_psi_detects_shift_and_smooths_empty_bins(spark):
    from dataframes_jl_spark.functions.stats import psi

    a = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4, 5] * 40], "x double")
    same = psi(a, a, "x", breaks=[2.5, 4.5])
    total_same = sum(r.psi_term for r in same.collect())
    assert abs(total_same) < 1e-9  # identical distributions -> ~0
    # shifted: all mass moves to the top bin; empty bins stay finite
    b = spark.createDataFrame([(100.0,)] * 200, "x double")
    shifted = psi(a, b, "x", breaks=[2.5, 4.5])
    rows = {r.bin: r for r in shifted.collect()}
    total = sum(r.psi_term for r in rows.values())
    assert total > 0.25  # "shifted" by the usual rule of thumb
    assert all(abs(r.psi_term) < 1e6 for r in rows.values())  # no inf
    assert rows[0].n_actual == 0 and rows[2].n_actual == 200


def test_funnel_within_window(spark):
    from dataframes_jl_spark.ops import funnel_steps

    rows = [
        (1, "a", "2024-01-01 00:00:00"),
        (1, "b", "2024-01-01 00:30:00"),   # 30 min after a
        (2, "a", "2024-01-01 00:00:00"),
        (2, "b", "2024-01-01 05:00:00"),   # 5h after a
    ]
    df = spark.createDataFrame(rows, "u bigint, et string, ts string").select(
        "u", "et", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r.u: r.step_1 for r in
           funnel_steps(df, "u", "et", "ts", ["a", "b"], within_seconds=3600).collect()}
    assert got[1] is not None   # within the hour
    assert got[2] is None       # too late


def test_bloom_null_keys_pass_through(spark):
    """NULL probe keys must get True (NA keys can genuinely match under
    eqNullSafe join semantics — False would be a false negative)."""
    from dataframes_jl_spark.ops import bloom_build, bloom_prefilter

    build = spark.createDataFrame([(1,), (2,)], "key bigint")
    bloom = bloom_build(build, "key")
    probe = spark.createDataFrame([(1,), (None,), (99,)], "key bigint")
    out = {r.key: r["__bloom_pass__"]
           for r in bloom_prefilter(probe, "key", bloom).collect()}
    assert out[1] is True
    assert out[None] is True     # conservative pass-through
    assert out[99] in (True, False) and out[99] is not None


def test_scd2_lookup_rejects_attr_collision_and_clean_schema(spark):
    from dataframes_jl_spark.ops.scd import scd2_lookup

    dim = spark.createDataFrame(
        [(1, "a", 10, None)],
        "k bigint, attr string, valid_from bigint, valid_to bigint",
    )
    facts = spark.createDataFrame([(1, 15)], "k bigint, ts bigint")
    out = scd2_lookup(facts, dim, ["k"], "ts")
    assert set(out.columns) == {"k", "ts", "attr"}  # no leaked internals
    bad_facts = facts.withColumn("attr", F.lit("mine"))
    with pytest.raises(ValueError, match="collide"):
        scd2_lookup(bad_facts, dim, ["k"], "ts")


def test_scd2_lookup_zero_length_version_tie(spark):
    """Same-valid_from versions: the zero-length one (from a same-ts
    change) can never be active and must not shadow the real one."""
    from dataframes_jl_spark.ops.scd import scd2_lookup

    dim = spark.createDataFrame(
        [(1, "x", 10, 10), (1, "y", 10, None)],
        "k bigint, attr string, valid_from bigint, valid_to bigint",
    )
    facts = spark.createDataFrame([(1, 10), (1, 50)], "k bigint, ts bigint")
    got = {r.ts: r.attr for r in scd2_lookup(facts, dim, ["k"], "ts").collect()}
    assert got == {10: "y", 50: "y"}


def test_funnel_within_timestamp_ntz(spark):
    """within_seconds must survive TIMESTAMP_NTZ columns (the parquet
    timestamp[us] reading) via the LTZ hop."""
    from dataframes_jl_spark.ops import funnel_steps

    rows = [(1, "a", "2024-01-01 00:00:00"), (1, "b", "2024-01-01 00:30:00")]
    df = spark.createDataFrame(rows, "u bigint, et string, ts string").select(
        "u", "et", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    got = funnel_steps(df, "u", "et", "ts", ["a", "b"], within_seconds=3600).collect()
    assert got[0].step_1 is not None


def test_profile_mixed_types_and_nulls(spark):
    from dataframes_jl_spark.functions.stats import profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, None), (2, "b", 2.5)],
        "i bigint, s string, d double",
    )
    rows = {r.variable: r for r in profile(df).collect()}
    assert rows["i"].n == 3 and rows["i"].n_unique == 2 and rows["i"].n_na == 0
    assert rows["s"].n_na == 1 and abs(rows["s"].na_frac - 1 / 3) < 1e-9
    assert rows["s"].min is None and rows["s"].mean is None
    assert rows["d"].min == 1.5 and rows["d"].max == 2.5 and rows["d"].mean == 2.0


def test_key_skew_report(spark):
    """Salted two-phase top-k == definitional per-column answer; the
    hot hint trips only above the share threshold; NULLs excluded."""
    from dataframes_jl_spark.ops.skew import key_skew_report

    rows = (
        [("hot", 1)] * 60 + [("b", 2)] * 25 + [("c", 3)] * 10
        + [("d", 4)] * 5 + [(None, 5)] * 7
    )
    df = spark.createDataFrame(rows, "k string, v int").repartition(5)
    rep = {(r.col, r.value): r for r in key_skew_report(df, ["k", "v"], top_k=3).collect()}
    hot = rep[("k", "hot")]
    assert hot.rank == 1 and hot.cnt == 60 and hot.hint == "hot:salt-or-AQE"
    assert abs(hot.share - 0.6) < 1e-12      # 60 of 100 non-null
    assert hot.n_distinct == 4               # NULL key excluded
    assert rep[("k", "c")].hint == "ok"        # 10% < hot_share=0.2
    assert ("k", "d") not in rep             # top_k=3 cuts it
    v1 = rep[("v", "1")]
    assert v1.cnt == 60 and v1.n_distinct == 5   # NULL k rows still count v


def test_resample_grid_fills(spark):
    """Grid materializes every bucket between each key's first/last;
    zero/locf/linear impute correctly; linear matches pandas
    interpolate(limit_direction='forward') on the epoch axis."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.resample import resample

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0, 10.0),
        ("a", t0 + dt.timedelta(hours=3, minutes=7), 40.0),  # 2 gap hours
        ("a", t0 + dt.timedelta(hours=4), 1.0),
        ("b", t0 + dt.timedelta(hours=1), 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double").repartition(3)

    base = dict(ts_col="ts", every_seconds=3600,
                aggs={"v": F.sum("v")}, by="k")
    got = {
        (r.k, r.bucket.hour): r.v
        for r in resample(df, fill="null", **base).collect()
    }
    assert got[("a", 1)] is None and got[("a", 2)] is None
    assert got[("a", 0)] == 10.0 and got[("a", 3)] == 40.0
    assert ("b", 1) in got and len(got) == 6  # a: 0-4, b: 1

    zero = {(r.k, r.bucket.hour): r.v
            for r in resample(df, fill="zero", **base).collect()}
    assert zero[("a", 1)] == 0.0 and zero[("a", 2)] == 0.0

    locf = {(r.k, r.bucket.hour): r.v
            for r in resample(df, fill="locf", **base).collect()}
    assert locf[("a", 1)] == 10.0 and locf[("a", 2)] == 10.0

    lin = {(r.k, r.bucket.hour): r.v
           for r in resample(df, fill="linear", **base).collect()}
    assert lin[("a", 1)] == 20.0 and lin[("a", 2)] == 30.0  # 10 -> 40 over 3h
    assert lin[("a", 4)] == 1.0 and lin[("b", 1)] == 5.0


def test_resample_guards(spark):
    """by=None refuses window fills; oversized per-key grids raise via
    the in-plan assert; bad fill/agg names raise up front."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors import SparkRuntimeException

    from dataframes_jl_spark.ops.resample import resample

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("a", t0, 1.0), ("a", t0 + dt.timedelta(days=40), 2.0)],
        "k string, ts timestamp, v double",
    )
    with pytest.raises(ValueError, match="SinglePartition"):
        resample(df, "ts", 3600, {"v": F.sum("v")}, by=None, fill="locf")
    with pytest.raises(ValueError, match="fill must be"):
        resample(df, "ts", 3600, {"v": F.sum("v")}, by="k", fill="ffill")
    with pytest.raises(ValueError, match="collide"):
        resample(df, "ts", 3600, {"k": F.sum("v")}, by="k")
    with pytest.raises(ValueError, match="fill_cols"):
        resample(df, "ts", 3600, {"v": F.sum("v")}, by="k",
                 fill="locf", fill_cols=["w"])
    # 40 days at 1s grid = 3.5M cells > max_grid_per_key
    with pytest.raises(SparkRuntimeException, match="grid exceeds"):
        resample(df, "ts", 1, {"v": F.sum("v")}, by="k",
                 max_grid_per_key=1_000_000).count()
    # whole-table grid without window fill is allowed
    assert resample(df, "ts", 86400, {"v": F.sum("v")}, fill="zero").count() == 41


def test_resample_persist_cells_same_result(spark):
    """persist_cells materializes the cell aggregate once for the
    bounds + join reads; results identical to the unpersisted plan."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dataframes_jl_spark.ops.resample import resample

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("a", t0 + dt.timedelta(hours=h), float(h)) for h in (0, 3, 5)],
        "k string, ts timestamp, v double",
    )
    kw = dict(ts_col="ts", every_seconds=3600,
              aggs={"v": F.sum("v")}, by="k", fill="locf")
    plain = sorted(map(tuple, resample(df, **kw).collect()))
    persisted = sorted(map(tuple, resample(df, persist_cells=True, **kw).collect()))
    spark.catalog.clearCache()
    assert plain == persisted and len(plain) == 6
