"""Single-pass statistics (operators/stats.py): correlation matrix and
grouped closed-form OLS — values pinned against numpy, partition
invariance (the decimal moment-sum contract), and plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from yaetl_spark.operators import (chi_square, correlation_matrix,
                                   grouped_ols, welch_t)

from .conftest import table_path


def _np_corr(xs, ys):
    return float(np.corrcoef(xs, ys)[0, 1])


def test_correlation_matrix_matches_numpy(spark):
    rng = np.random.RandomState(5)
    x = rng.uniform(0, 10, 400)
    y = 3.0 * x + rng.uniform(0, 4, 400)   # strongly correlated
    z = rng.uniform(0, 1, 400)             # independent
    rows = [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in correlation_matrix(df, ["x", "y", "z"]).collect()
    }
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    assert got[("x", "y")] == pytest.approx(_np_corr(x, y), abs=1e-5)
    assert got[("x", "z")] == pytest.approx(_np_corr(x, z), abs=1e-5)
    # constant column -> NULL corr, and listwise NULL handling
    df2 = df.withColumn("c", F.lit(1.0))
    r = {
        (q["col_a"], q["col_b"]): q["corr"]
        for q in correlation_matrix(df2, ["x", "c"]).collect()
    }
    assert r[("x", "c")] is None
    with pytest.raises(ValueError):
        correlation_matrix(df, ["x"])
    with pytest.raises(ValueError):
        correlation_matrix(df, ["x", "x"])


def test_grouped_ols_recovers_known_line(spark):
    rng = np.random.RandomState(7)
    rows = []
    for g, (slope, icpt) in {"a": (2.5, 10.0), "b": (-1.0, 3.0)}.items():
        xs = rng.uniform(0, 20, 300)
        for xv in xs:
            rows.append((g, float(xv), float(slope * xv + icpt)))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in grouped_ols(df, "y", "x", by=["g"]).collect()}
    assert got["a"]["slope"] == pytest.approx(2.5, abs=1e-4)
    assert got["a"]["intercept"] == pytest.approx(10.0, abs=1e-3)
    assert got["a"]["r2"] == pytest.approx(1.0, abs=1e-6)
    assert got["b"]["slope"] == pytest.approx(-1.0, abs=1e-4)
    # ungrouped form returns one row
    one = grouped_ols(df.filter(F.col("g") == "a"), "y", "x").collect()
    assert len(one) == 1 and one[0]["n"] == 300
    # zero-variance x -> NULL fit
    flat = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 1.0, 5.0)], "g string, x double, y double")
    r = grouped_ols(flat, "y", "x", by=["g"]).collect()[0]
    assert r["slope"] is None and r["intercept"] is None and r["r2"] is None


def test_stats_partition_invariant(spark):
    li = spark.read.parquet(table_path("lineitem"))
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    a = sorted(map(tuple, correlation_matrix(li.repartition(1), cols).collect()))
    b = sorted(map(tuple, correlation_matrix(li.repartition(13), cols).collect()))
    assert a == b
    c = sorted(map(tuple, grouped_ols(
        li.repartition(1), "l_extendedprice", "l_quantity",
        by=["l_returnflag"]).collect()))
    d = sorted(map(tuple, grouped_ols(
        li.repartition(13), "l_extendedprice", "l_quantity",
        by=["l_returnflag"]).collect()))
    assert c == d


def test_stats_single_pass_plan(spark):
    li = spark.read.parquet(table_path("lineitem"))
    plan = correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )._jdf.queryExecution().executedPlan().toString()
    # one aggregation (partial + final), one single-partition exchange,
    # exactly one scan — the whole matrix is one pass
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 0
    plan2 = grouped_ols(
        li, "l_extendedprice", "l_quantity", by=["l_returnflag"]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("FileScan") == 1
    assert plan2.count("Exchange hashpartitioning") == 1  # group keys only


def test_frequent_itemsets_textbook_values(spark):
    from yaetl_spark.operators import frequent_itemsets

    df = spark.createDataFrame(
        [(1, "bread"), (1, "butter"), (1, "milk"),
         (2, "bread"), (2, "butter"),
         (3, "bread"), (3, "milk"),
         (4, "beer"), (4, "chips"),
         (5, "beer"), (5, "chips"), (5, "bread"),
         (5, "bread")],  # duplicate line: must not inflate counts
        "basket long, item string",
    )
    got = {
        (r["item_a"], r["item_b"]): r
        for r in frequent_itemsets(df, "basket", "item",
                                   min_pair_count=2).collect()
    }
    bc = got[("beer", "chips")]
    assert bc["pair_n"] == 2 and bc["support"] == 0.4
    assert bc["conf_ab"] == 1.0 and bc["conf_ba"] == 1.0
    assert bc["lift"] == 2.5  # 0.4 / (0.4 * 0.4)
    bb = got[("bread", "butter")]
    assert bb["conf_ab"] == 0.5 and bb["conf_ba"] == 1.0  # bread in 4/5
    assert bb["lift"] == 1.25
    # min_support filter
    none = frequent_itemsets(df, "basket", "item", min_pair_count=2,
                             min_support=0.5).collect()
    assert none == []
    with pytest.raises(ValueError):
        frequent_itemsets(df, "basket", "item", min_pair_count=0)
    with pytest.raises(ValueError):
        frequent_itemsets(df, "basket", "item", min_support=1.5)


def test_frequent_itemsets_partition_invariant(spark):
    from yaetl_spark.operators import frequent_itemsets

    li = spark.read.parquet(table_path("lineitem")).select(
        "l_orderkey", "l_partkey")
    a = sorted(map(tuple, frequent_itemsets(
        li.repartition(1), "l_orderkey", "l_partkey").collect()))
    b = sorted(map(tuple, frequent_itemsets(
        li.repartition(11), "l_orderkey", "l_partkey").collect()))
    assert a == b and len(a) > 0


def test_welch_t_matches_numpy(spark):
    rng = np.random.RandomState(11)
    a = rng.normal(5.0, 1.0, 250)
    b = rng.normal(5.4, 2.0, 180)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_t(df, "v", "g", "a", "b").collect()[0]
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(se2)
    dof = se2 ** 2 / ((va / len(a)) ** 2 / (len(a) - 1)
                      + (vb / len(b)) ** 2 / (len(b) - 1))
    assert r["n_a"] == 250 and r["n_b"] == 180
    assert r["t_stat"] == pytest.approx(t, abs=1e-4)
    assert r["dof"] == pytest.approx(dof, abs=1e-2)
    # degenerate group -> NULL statistic
    tiny = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "g string, v double")
    r2 = welch_t(tiny, "v", "g", "a", "b").collect()[0]
    assert r2["t_stat"] is None and r2["dof"] is None


def test_chi_square_2x2_textbook_and_zero_cell(spark):
    data = ([("x", "p")] * 20 + [("x", "q")] * 30
            + [("y", "p")] * 40 + [("y", "q")] * 10)
    df = spark.createDataFrame(data, "a string, b string")
    r = chi_square(df, "a", "b").collect()[0]
    # 2x2 closed form: n(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))
    assert r["chi2"] == pytest.approx(100 * (20 * 10 - 30 * 40) ** 2
                                      / (50 * 50 * 60 * 40), abs=1e-5)
    assert r["dof"] == 1 and r["n"] == 100 and r["n_cells"] == 4
    # an unobserved cell: its expected mass enters via the closed form
    data2 = [("x", "p")] * 10 + [("x", "q")] * 10 + [("y", "p")] * 10
    df2 = spark.createDataFrame(data2, "a string, b string")
    r2 = chi_square(df2, "a", "b").collect()[0]
    # manual: totals rx=20 ry=10 cp=20 cq=10 n=30
    import itertools
    exp = {("x", "p"): 20 * 20 / 30, ("x", "q"): 20 * 10 / 30,
           ("y", "p"): 10 * 20 / 30, ("y", "q"): 10 * 10 / 30}
    obs = {("x", "p"): 10, ("x", "q"): 10, ("y", "p"): 10, ("y", "q"): 0}
    manual = sum((obs[c] - exp[c]) ** 2 / exp[c]
                 for c in itertools.product("xy", "pq"))
    assert r2["chi2"] == pytest.approx(manual, abs=1e-5)
    assert r2["n_cells"] == 3  # only observed cells materialize


def test_welch_chi_partition_invariant(spark):
    orders = spark.read.parquet(table_path("orders"))
    a = welch_t(orders.repartition(1), "o_totalprice",
                "o_orderstatus", "O", "F").collect()
    b = welch_t(orders.repartition(9), "o_totalprice",
                "o_orderstatus", "O", "F").collect()
    assert list(map(tuple, a)) == list(map(tuple, b))
    li = spark.read.parquet(table_path("lineitem"))
    c = chi_square(li.repartition(1), "l_returnflag", "l_linestatus").collect()
    d = chi_square(li.repartition(9), "l_returnflag", "l_linestatus").collect()
    assert list(map(tuple, c)) == list(map(tuple, d))


def test_frequent_itemsets_max_basket_items_guard(spark):
    from yaetl_spark.operators import frequent_itemsets

    rows = [("mega", f"i{i}") for i in range(50)]
    rows += [("b1", "a"), ("b1", "b"), ("b2", "a"), ("b2", "b")]
    df = spark.createDataFrame(rows, ["bk", "it"])
    # in-plan guard: raises at execution, naming the basket and size
    with pytest.raises(Exception, match="mega holds 50 distinct items"):
        frequent_itemsets(df, "bk", "it", min_pair_count=1,
                          max_basket_items=10).collect()
    # at-the-bound basket passes, values unchanged vs unguarded
    got = sorted(
        map(tuple, frequent_itemsets(df, "bk", "it", min_pair_count=1,
                                     max_basket_items=50).collect()))
    ref = sorted(
        map(tuple, frequent_itemsets(df, "bk", "it",
                                     min_pair_count=1).collect()))
    assert got == ref and len(got) > 0
    with pytest.raises(ValueError, match="max_basket_items"):
        frequent_itemsets(df, "bk", "it", max_basket_items=0)


def test_pvalue_helpers_match_published_tables():
    """Fixtures from the classical t / chi-square tables plus the
    closed forms at dof 1 and 2 (Cauchy tail; exp(-x/2); erfc)."""
    import math

    from yaetl_spark.operators import chi_square_pvalue, welch_t_pvalue

    # two-sided t: critical values at alpha = 0.05
    assert welch_t_pvalue(2.228, 10) == pytest.approx(0.05, abs=5e-4)
    assert welch_t_pvalue(12.706, 1) == pytest.approx(0.05, abs=5e-4)
    assert welch_t_pvalue(1.96, 1e6) == pytest.approx(0.05, abs=5e-4)
    # dof=1 is Cauchy: P(|T|>=1) = 0.5 exactly
    assert welch_t_pvalue(1.0, 1) == pytest.approx(0.5, abs=1e-9)
    assert welch_t_pvalue(0.0, 5) == 1.0
    assert welch_t_pvalue(-2.228, 10) == welch_t_pvalue(2.228, 10)
    # fractional (Welch-Satterthwaite) dof interpolates sanely
    assert (welch_t_pvalue(2.0, 10)
            < welch_t_pvalue(2.0, 10.5)
            < welch_t_pvalue(2.0, 11)) is False  # p decreases with dof
    assert (welch_t_pvalue(2.0, 11)
            < welch_t_pvalue(2.0, 10.5)
            < welch_t_pvalue(2.0, 10))
    # chi-square closed forms: dof=2 -> exp(-x/2); dof=1 -> erfc
    for x in (0.5, 2.0, 5.991, 20.0):
        assert chi_square_pvalue(x, 2) == pytest.approx(
            math.exp(-x / 2), rel=1e-9)
        assert chi_square_pvalue(x, 1) == pytest.approx(
            math.erfc(math.sqrt(x / 2)), rel=1e-9)
    # table criticals
    assert chi_square_pvalue(16.919, 9) == pytest.approx(0.05, abs=5e-4)
    assert chi_square_pvalue(124.342, 100) == pytest.approx(0.05, abs=5e-4)
    assert chi_square_pvalue(0.0, 3) == 1.0
    with pytest.raises(ValueError):
        welch_t_pvalue(1.0, 0)
    with pytest.raises(ValueError):
        chi_square_pvalue(1.0, 0)


def test_robust_outliers_flags_planted_outliers(spark):
    from yaetl_spark.operators import robust_outliers

    # group g: tight cluster around 10 plus two wild points;
    # group h: constant (MAD = 0 -> undefined, NULL outputs)
    rows = ([("g", 10.0 + i * 0.1) for i in range(-5, 6)]
            + [("g", 1000.0), ("g", -1000.0)]
            + [("h", 7.0)] * 5)
    df = spark.createDataFrame(rows, ["grp", "v"])
    got = {r["grp"]: r for r in
           robust_outliers(df, "v", by=["grp"], exact=True).collect()}
    g = got["g"]
    assert g["n"] == 13 and g["median"] == 10.0
    assert g["n_outliers"] == 2 and g["outlier_share"] == pytest.approx(
        2 / 13, abs=1e-6)
    h = got["h"]
    assert h["mad"] == 0.0
    assert h["n_outliers"] is None and h["outlier_share"] is None
    # global (no groups) goes through the in-plan scalar attach
    glob = robust_outliers(df.filter(F.col("grp") == "g"), "v",
                           exact=True).collect()
    assert glob[0]["n_outliers"] == 2
    # partition invariance
    a = sorted(map(tuple, robust_outliers(
        df, "v", by=["grp"], exact=True).collect()))
    b = sorted(map(tuple, robust_outliers(
        df.repartition(7), "v", by=["grp"], exact=True).collect()))
    assert a == b
    with pytest.raises(ValueError):
        robust_outliers(df, "v", z=0)


def test_robust_outliers_plan_never_shuffles_stream_wide(spark):
    from yaetl_spark.operators import robust_outliers

    li = spark.read.parquet(table_path("lineitem"))
    df = robust_outliers(li, "l_extendedprice", by=["l_returnflag"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # stat tables come back broadcast: the stream itself is never
    # hash-exchanged on the group key for the joins (aggregations
    # exchange only their |groups|-row partials)
    assert plan.count("BroadcastHashJoin") >= 2
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan


def test_key_skew_profile_known_distribution(spark):
    from yaetl_spark.operators import key_skew_profile

    # 4 keys: 1, 2, 3, 94 rows -> max 94, top share 0.94
    rows = ([("a",)] * 1 + [("b",)] * 2 + [("c",)] * 3 + [("d",)] * 94)
    df = spark.createDataFrame(rows, ["k"])
    r = key_skew_profile(df, ["k"], exact=True).first()
    assert r["n_rows"] == 100 and r["n_keys"] == 4
    assert r["max_rows"] == 94 and r["top_key_share"] == 0.94
    assert r["p50_rows"] == 2.5  # interpolated median of [1,2,3,94]
    a = key_skew_profile(df, ["k"], exact=True).collect()
    b = key_skew_profile(df.repartition(7), ["k"], exact=True).collect()
    assert list(map(tuple, a)) == list(map(tuple, b))
    with pytest.raises(ValueError):
        key_skew_profile(df, [])


def test_distribution_shift_identical_and_shifted(spark):
    from yaetl_spark.operators import distribution_shift

    rng = np.random.RandomState(11)
    base = rng.uniform(0, 100, 600)
    same = spark.createDataFrame([(float(v),) for v in base], "x double")
    row = distribution_shift(same, same, "x", buckets=10).collect()[0]
    # identical snapshots: all divergences exactly 0
    assert row["psi"] == 0.0 and row["kl_ref_cur"] == 0.0 and row["js"] == 0.0
    assert row["n_ref"] == row["n_cur"] == 600

    shifted = spark.createDataFrame(
        [(float(v + 60),) for v in base], "x double"
    )
    r2 = distribution_shift(same, shifted, "x", buckets=10).collect()[0]
    # a 60-point shift of a [0,100] uniform is a loud drift: PSI well
    # over the 0.25 "shifted" alarm, JS bounded by ln(2)
    assert r2["psi"] > 0.25
    assert r2["kl_ref_cur"] > 0.0
    assert 0.0 < r2["js"] <= 0.6931472
    # detail rows: probabilities are per-side normalized before smoothing
    det = distribution_shift(same, shifted, "x", buckets=10, detail=True)
    rows = det.collect()
    assert abs(sum(r["p_ref"] for r in rows) - 1.0) < 1e-6
    # out-of-range current values clamp into the top reference bucket
    top = {r["bucket"]: r for r in rows}[9]
    assert top["n_cur"] > top["n_ref"]


def test_distribution_shift_validates_and_degenerate(spark):
    from yaetl_spark.operators import distribution_shift

    df = spark.createDataFrame([(1.0,), (1.0,)], "x double")
    with pytest.raises(ValueError, match="buckets"):
        distribution_shift(df, df, "x", buckets=1)
    with pytest.raises(ValueError, match="smooth"):
        distribution_shift(df, df, "x", smooth=0.0)
    # degenerate reference (min == max): everything lands in bucket 0
    row = distribution_shift(df, df, "x", buckets=4).collect()[0]
    assert row["psi"] == 0.0 and row["n_ref"] == 2


def test_distribution_shift_plan_stream_never_shuffles(spark):
    """Each snapshot reduces to a bucket-count aggregation: no exchange
    keyed by anything wider than the <=buckets-row bucket tables, no
    cartesian, no Python stages."""
    from yaetl_spark.operators import distribution_shift

    li = spark.read.parquet(table_path("lineitem"))
    plan = distribution_shift(
        li.filter("l_orderkey % 2 = 0"), li.filter("l_orderkey % 2 = 1"),
        "l_extendedprice", buckets=8,
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan


def test_categorical_shift_lumping_null_and_novel(spark):
    from yaetl_spark.operators import categorical_shift

    ref = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "v string"
    )
    # identical snapshots: zero drift regardless of lumping
    r0 = categorical_shift(ref, ref, "v", top_k=2).collect()[0]
    assert r0["psi"] == 0.0 and r0["js"] == 0.0

    # current introduces a NOVEL category (not in ref) and NULLs; with
    # top_k=2 the kept cells are a,b — c, the novelty, and nothing else
    # stay distinguishable only via __other__ / __null__
    cur = spark.createDataFrame(
        [("a",)] * 2 + [("zzz-new",)] * 6 + [(None,)] * 2, "v string"
    )
    det = {r["category"]: r for r in categorical_shift(
        ref, cur, "v", top_k=2, detail=True).collect()}
    assert set(det) == {"a", "b", "__other__", "__null__"}
    assert det["__other__"]["n_cur"] == 6    # the novel category
    assert det["__other__"]["n_ref"] == 1    # ref's own lumped tail (c)
    assert det["__null__"]["n_cur"] == 2
    summary = categorical_shift(ref, cur, "v", top_k=2).collect()[0]
    assert summary["psi"] > 0.25             # loud drift
    assert summary["n_ref"] == 10 and summary["n_cur"] == 10

    # top-k ties break by category value: b and c tied at 1 -> b kept
    ref2 = spark.createDataFrame(
        [("a",)] * 2 + [("b",)] * 1 + [("c",)] * 1, "v string"
    )
    det2 = {r["category"] for r in categorical_shift(
        ref2, ref2, "v", top_k=2, detail=True).collect()}
    assert det2 == {"a", "b", "__other__"}

    with pytest.raises(ValueError, match="top_k"):
        categorical_shift(ref, ref, "v", top_k=0)


@pytest.mark.parametrize("ansi", ["false", "true"], indirect=True)
@pytest.mark.parametrize("empty_side", ["ref", "cur"])
@pytest.mark.parametrize("op", ["distribution_shift", "categorical_shift"])
def test_drift_shift_empty_side_is_null(spark, ansi, empty_side, op):
    """An empty side NULLs psi / kl_ref_cur / js and the detail shares
    and psi_term (the summary_* contract) while the counts stay; no
    ``count / total`` share divides by the zero total, so an ANSI
    session does not raise."""
    import yaetl_spark.operators as ops

    fn = getattr(ops, op)
    full = spark.createDataFrame(
        [(float(i % 7), f"c{i % 3}") for i in range(20)],
        "x double, c string")
    empty = full.limit(0)
    ref, cur = (empty, full) if empty_side == "ref" else (full, empty)
    col = "x" if op == "distribution_shift" else "c"
    row = fn(ref, cur, col).first()
    assert (row["n_ref"], row["n_cur"]) == (
        (0, 20) if empty_side == "ref" else (20, 0))
    assert (row["psi"], row["kl_ref_cur"], row["js"]) == (None, None, None)
    det = fn(ref, cur, col, detail=True).collect()
    assert sum(r["n_ref"] + r["n_cur"] for r in det) == 20
    assert {(r["p_ref"], r["p_cur"], r["psi_term"]) for r in det} == {
        (None, None, None)}


def test_categorical_shift_over_buckets_is_distribution_shift(spark):
    """categorical_shift over the bucket ids distribution_shift assigns
    gives the same counts and divergences: both fold one cell table
    through the same smoothed shares and rounded terms."""
    from yaetl_spark.operators import categorical_shift, distribution_shift

    rng = np.random.RandomState(3)
    ref_v = [float(v) for v in rng.uniform(0, 100, 300)]
    cur_v = [float(v) for v in rng.normal(70, 25, 200)]
    k = 8
    mn, mx = min(ref_v), max(ref_v)
    w = (mx - mn) / float(k)

    def frame(vals):
        # distribution_shift's clamped equi-width cell, as a category
        return spark.createDataFrame(
            [(v, str(min(k - 1, max(0, int(np.floor((v - mn) / w))))))
             for v in vals], "x double, b string")

    ref, cur = frame(ref_v), frame(cur_v)
    assert ref.select("b").distinct().count() == k  # no __other__ lump
    cols = ["n_ref", "n_cur", "psi", "kl_ref_cur", "js"]
    want = distribution_shift(ref, cur, "x", buckets=k).select(cols).first()
    got = categorical_shift(ref, cur, "b", top_k=k).select(cols).first()
    assert got == want
    assert want["psi"] > 0.1


@pytest.mark.parametrize("by", [[], ["k"]])
def test_ks_test_is_summary_ks_distance_over_unit_points(spark, by):
    """ks_test over raw values equals summary_ks_distance over the same
    values as unit-weight (value, 1) points: both take the max gap of
    one tie-collapsed two-sample CDF."""
    from yaetl_spark.operators import ks_test, summary_ks_distance

    rng = np.random.default_rng(12)

    def frame(loc, n):
        return spark.createDataFrame(
            [(f"k{i % 2}", float(np.round(v, 1)))
             for i, v in enumerate(rng.normal(loc, 1, n))],
            "k string, v double")

    a, b = frame(0.0, 150), frame(0.4, 110)

    def unit(df):
        return df.select(*by, F.col("v").alias("value"),
                         F.lit(1).alias("weight"))

    got = sorted(
        tuple(r) for r in ks_test(a, b, "v", by).select(
            *by, "n_ref", "n_cur", "ks_d").collect())
    want = sorted(
        tuple(r) for r in summary_ks_distance(
            unit(a), unit(b), round_to=6, keys=by).collect())
    assert got == want
    assert len(got) == (2 if by else 1) and all(r[-1] > 0 for r in got)


# --- ks_test ----------------------------------------------------------------


def test_ks_test_matches_numpy_ecdf(spark):
    import numpy as np

    from yaetl_spark.operators import ks_pvalue, ks_test

    rng = np.random.default_rng(4)
    a = rng.normal(0, 1, 400)
    b = rng.normal(0.5, 1.2, 300)
    ref = spark.createDataFrame(
        [("g", float(x)) for x in a], "k string, v double")
    cur = spark.createDataFrame(
        [("g", float(x)) for x in b], "k string, v double")
    r = ks_test(ref, cur, "v", ["k"]).collect()[0]
    allv = np.unique(np.concatenate([a, b]))
    f1 = np.searchsorted(np.sort(a), allv, side="right") / len(a)
    f2 = np.searchsorted(np.sort(b), allv, side="right") / len(b)
    D = float(np.abs(f1 - f2).max())
    en = float(np.sqrt(len(a) * len(b) / (len(a) + len(b))))
    assert r["n_ref"] == 400 and r["n_cur"] == 300
    assert r["ks_d"] == round(D, 6)
    assert r["ks_stat"] == round(en * D, 6)
    # identical samples: D = 0, p-value 1
    same = ks_test(ref, ref, "v", ["k"]).collect()[0]
    assert same["ks_d"] == 0.0
    assert ks_pvalue(same["ks_stat"]) == 1.0
    # the classic critical value: Q(1.36) ~ 0.049
    assert abs(ks_pvalue(1.36) - 0.0495) < 1e-3


def test_ks_test_ties_groups_and_missing_sides(spark):
    from yaetl_spark.operators import ks_test

    # heavy ties: ref all 1s + one 2; cur all 2s. ECDFs jump at the two
    # distinct values; D evaluated AFTER accumulating ties = 3/4
    ref = spark.createDataFrame(
        [("g", 1.0), ("g", 1.0), ("g", 1.0), ("g", 2.0),
         ("only_ref", 5.0)], "k string, v double")
    cur = spark.createDataFrame(
        [("g", 2.0), ("g", 2.0)], "k string, v double")
    got = {r["k"]: r for r in ks_test(ref, cur, "v", ["k"]).collect()}
    assert set(got) == {"g"}  # one-sided groups are absent
    assert got["g"]["ks_d"] == 0.75
    # global (no by): single summary row
    glob = ks_test(ref, cur, "v").collect()
    assert len(glob) == 1 and set(glob[0].asDict()) == {
        "n_ref", "n_cur", "ks_d", "ks_stat"}
    # NULL values drop per side
    refn = ref.unionByName(spark.createDataFrame(
        [("g", None)], "k string, v double"))
    assert ks_test(refn, cur, "v", ["k"]).collect()[0]["n_ref"] == 4


def test_ks_test_partition_invariant_and_plan(spark):
    import numpy as np

    from yaetl_spark.operators import ks_test

    rng = np.random.default_rng(9)
    ref = spark.createDataFrame(
        [(f"k{i % 3}", float(v)) for i, v in
         enumerate(rng.normal(0, 1, 120))], "k string, v double")
    cur = spark.createDataFrame(
        [(f"k{i % 3}", float(v)) for i, v in
         enumerate(rng.normal(1, 1, 90))], "k string, v double")
    a = sorted(map(tuple, ks_test(
        ref.repartition(1), cur.repartition(1), "v", ["k"]).collect()))
    b = sorted(map(tuple, ks_test(
        ref.repartition(7), cur.repartition(5), "v", ["k"]).collect()))
    assert a == b
    plan = ks_test(ref, cur, "v", ["k"])._jdf.queryExecution() \
        .executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan
    # (group, value) tie-collapse + group ECDF ordering: two exchanges
    assert plan.count("Exchange hashpartitioning") == 2


def test_ks_pvalue_small_lambda_branch():
    """The alternating Smirnov series diverges below λ≈1; the theta-dual
    branch (Marsaglia-Tsang-Wang 2003) must hold there: no-drift
    statistics give p≈1, and the branches agree at the crossover."""
    from yaetl_spark.operators import ks_pvalue

    # tiny λ = near-identical large samples: p must be ~1, not garbage
    for lam in (0.001, 0.005, 0.01, 0.1, 0.2):
        assert ks_pvalue(lam) > 0.999999, lam
    # known table values of the Kolmogorov distribution
    assert abs(ks_pvalue(0.5) - 0.9639) < 1e-3
    assert abs(ks_pvalue(1.36) - 0.0495) < 1e-3
    assert abs(ks_pvalue(2.0) - 0.00067) < 1e-4
    # continuity at the branch crossover
    assert abs(ks_pvalue(0.9999999) - ks_pvalue(1.0000001)) < 1e-5
    # monotone decreasing
    vals = [ks_pvalue(x / 10) for x in range(1, 30)]
    assert all(a >= b - 1e-12 for a, b in zip(vals, vals[1:]))
