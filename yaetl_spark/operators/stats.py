"""Single-pass statistics — correlation and closed-form regression.

Beyond-reference analytics surface (the reference has no aggregation at
all — SURVEY.md §2.9): the two moments-based statistics every analytics
engine ships, computed in ONE aggregation pass over moment sums and made
engine-deterministic with the repo's absorb-the-ulps pattern (each term
rounded to 9 decimals, accumulated as DECIMAL(38,9) — an exact,
order-independent sum — with the float formula applied only to the
aggregated scalars). A plain float SUM is partition-order-dependent at
the ulp level, which would break both rerun stability and the DuckDB
oracle hash compare.

Scale shape (100 TB): one partial-aggregated pass over the scan for any
number of columns/pairs — no shuffle of the data itself, just the 1-row
(or |groups|-row) moment table. Pair count grows quadratically in
``len(cols)`` but only as *expressions per row*, never as rows.

The drift family (:func:`distribution_shift`, :func:`categorical_shift`,
:func:`ks_test`, ``aggregates.equi_width_histogram`` and the
``sketches.summary_*`` distances) is built on one drift core here, each
rule written once:

- ``_both_sides``: the empty-side guard — a statistic is NULL when
  either side's total is 0 or absent, and no ratio over an empty total
  is ever evaluated.
- ``_equi_width_cell``: the clamped equi-width cell of a value.
- ``_divergences``: smoothed per-cell shares and the rounded PSI /
  KL / JS terms over a two-sided cell table, with their DECIMAL fold.
- ``_cdf_stage``: the tie-collapsed two-sample weighted CDF (raw
  values are unit-weight points), with the guarded per-point gap.

The summary-side rank cut (``sketches._rank_cut_sql``) lives beside its
only callers in ``sketches``.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["categorical_shift", "chi_square", "chi_square_pvalue",
           "correlation_matrix", "distribution_shift",
           "frequent_itemsets", "grouped_ols", "ks_pvalue", "ks_test",
           "welch_t", "welch_t_pvalue"]

_DEC = "decimal(38,9)"


def _dsum(c: Column, scale: int = 9) -> Column:
    """Order-independent sum: round each term to ``scale`` decimals,
    accumulate exactly as DECIMAL(38,scale), hand back a double
    scalar."""
    return F.sum(F.round(c, scale).cast(f"decimal(38,{scale})")).cast("double")


def _dsum_sql(c_sql: str) -> str:
    """:func:`_dsum` as a SQL fragment for one-shot ``F.expr`` parses —
    hot operators assemble their aggregate lists this way because every
    Column call is a Python→JVM round trip (~1 ms on this driver; the
    guide-§7.3 expression-tree-in-a-loop cost), while one parse of an
    arbitrarily large fragment is a single round trip. Same
    round/decimal/cast semantics, pinned by the bit-exact oracles."""
    return f"cast(sum(cast(round({c_sql}, 9) as {_DEC})) as double)"


def _q(name: str) -> str:
    """Backtick-quote an identifier for use inside an expr string."""
    return "`" + name.replace("`", "``") + "`"


# --- drift core ---------------------------------------------------------------


def _both_sides(na: Column, nb: Column, value: Column) -> Column:
    """The drift family's empty-side guard: ``value`` when both side
    totals are positive, else NULL (a total that is 0, or NULL because
    the side is absent, NULLs the statistic). ``value`` is the CASE
    branch, so a ratio over either total inside it is never evaluated
    on an empty side — no division by zero, which an ANSI session
    raises."""
    return F.when((na > 0) & (nb > 0), value)


def _equi_width_cell(x: Column, mn: Column, mx: Column, k: int) -> Column:
    """Equi-width cell ``floor((x − mn) / w)`` of ``k`` cells over
    ``[mn, mx]``, clamped at BOTH ends into ``0..k-1`` (a value outside
    the range, or a bound rounded past the true extreme, lands in the
    edge cell); a degenerate range (``mx <= mn``) puts everything in
    cell 0."""
    w = (mx - mn) / F.lit(float(k))
    return F.when(mx <= mn, F.lit(0)).otherwise(
        F.least(
            F.lit(k - 1),
            F.greatest(F.lit(0), F.floor((x - mn) / w).cast("int")),
        )
    )


def _divergences(
    cells: DataFrame, label: str, smooth: float, detail: bool
) -> DataFrame:
    """PSI, KL(ref‖cur) and Jensen-Shannon over a two-sided cell table
    ``(label, _nr, _nc)``. Each side's share is smoothed as
    ``max(n / total, smooth)`` (the standard zero-cell fix) and NULL
    when either side is empty (:func:`_both_sides`); shares and terms
    are rounded to 9 and the summary folds them with :func:`_dsum`,
    final statistics rounded to 6.

    ``detail=True``: one row per cell ``(label, n_ref, n_cur, p_ref,
    p_cur, psi_term)``; else ONE row ``(n_ref, n_cur, psi, kl_ref_cur,
    js)``. The side totals ride a window over the bounded cell table
    (the single partition is safe by construction), so the scans behind
    the counts run exactly once."""
    w_all = Window.partitionBy()
    tot = cells.select(
        "*",
        F.sum("_nr").over(w_all).alias("_tr"),
        F.sum("_nc").over(w_all).alias("_tc"),
    )
    tr, tc = F.col("_tr"), F.col("_tc")
    eps = F.lit(float(smooth))
    p = _both_sides(tr, tc, F.greatest(
        F.col("_nr").cast("double") / tr.cast("double"), eps))
    q = _both_sides(tr, tc, F.greatest(
        F.col("_nc").cast("double") / tc.cast("double"), eps))
    m = (p + q) / F.lit(2.0)
    terms = tot.select(
        label,
        F.col("_nr").cast("bigint").alias("n_ref"),
        F.col("_nc").cast("bigint").alias("n_cur"),
        F.round(p, 9).alias("p_ref"),
        F.round(q, 9).alias("p_cur"),
        F.round((p - q) * F.log(p / q), 9).alias("psi_term"),
        F.round(p * F.log(p / q), 9).alias("_kl_term"),
        F.round(
            F.lit(0.5) * p * F.log(p / m)
            + F.lit(0.5) * q * F.log(q / m),
            9,
        ).alias("_js_term"),
    )
    if detail:
        return terms.select(
            label, "n_ref", "n_cur", "p_ref", "p_cur", "psi_term"
        )
    return terms.agg(
        F.sum("n_ref").cast("bigint").alias("n_ref"),
        F.sum("n_cur").cast("bigint").alias("n_cur"),
        F.round(_dsum(F.col("psi_term")), 6).alias("psi"),
        F.round(_dsum(F.col("_kl_term")), 6).alias("kl_ref_cur"),
        F.round(_dsum(F.col("_js_term")), 6).alias("js"),
    )


def _cdf_stage(
    a: DataFrame,
    b: DataFrame,
    value: Column,
    weight: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """The two-sample weighted CDF behind :func:`ks_test` and the
    persisted-summary distances (``sketches.summary_w1_distance``,
    ``summary_ks_distance``, ``summary_psi``): union the two weighted
    point sets (``value``/``weight`` evaluated on each side; raw values
    are unit-weight points, ``weight=F.lit(1)``), collapse tied
    values, and emit one row per distinct point with both point weights
    (``_cdf_wa``/``_cdf_wb``), both cumulative weights
    (``_cdf_ca``/``_cdf_cb``), the next point (``_cdf_next``), both
    totals (``_cdf_na``/``_cdf_nb``) and the CDF gap
    ``_cdf_gap = |F_a(v) − F_b(v)|``, NULL when either side is empty
    (:func:`_both_sides`). With ``keys`` everything is evaluated per
    key group (both inputs must carry the key columns; a key present on
    only one side gets a zero total on the other). Both CDFs are ratios
    of integer weights, so every gap divides the same two integers on
    any engine and partitioning. One hash aggregate on (keys, value)
    plus one keys-partitioned window over the collapsed points."""
    keys = list(keys)
    v = value.cast("double").alias("_cdf_v")
    w, zero = weight.cast("bigint"), F.lit(0).cast("bigint")
    va = a.select(*keys, v, w.alias("_cdf_wa"), zero.alias("_cdf_wb"))
    vb = b.select(*keys, v, zero.alias("_cdf_wa"), w.alias("_cdf_wb"))
    # collapse ties FIRST so each point appears once per side mix
    pts = (
        va.unionByName(vb)
        .groupBy(*keys, "_cdf_v")
        .agg(F.sum("_cdf_wa").alias("_cdf_wa"),
             F.sum("_cdf_wb").alias("_cdf_wb"))
    )
    # window expressions as one-shot parses (_dsum_sql note) — same
    # frames, same functions
    part = ("partition by " + ", ".join(map(_q, keys))) if keys else ""
    cum_frame = (f"over ({part} order by _cdf_v asc rows between "
                 "unbounded preceding and current row)")
    lead_over = f"over ({part} order by _cdf_v asc)"
    cum = pts.select(
        *keys,
        "_cdf_v",
        "_cdf_wa",
        "_cdf_wb",
        F.expr(f"sum(_cdf_wa) {cum_frame} as _cdf_ca"),
        F.expr(f"sum(_cdf_wb) {cum_frame} as _cdf_cb"),
        F.expr(f"lead(_cdf_v) {lead_over} as _cdf_next"),
    )
    full_frame = (f"over ({part} order by _cdf_v asc rows between "
                  "unbounded preceding and unbounded following)")
    staged = cum.select(
        "*",
        F.expr(f"max(_cdf_ca) {full_frame} as _cdf_na"),
        F.expr(f"max(_cdf_cb) {full_frame} as _cdf_nb"),
    )
    return staged.withColumn("_cdf_gap", _both_sides(
        F.col("_cdf_na"), F.col("_cdf_nb"),
        F.expr("abs(cast(_cdf_ca as double) / _cdf_na "
               "- cast(_cdf_cb as double) / _cdf_nb)")))


def correlation_matrix(
    df: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` in ONE aggregation
    pass: per pair, ``corr = (n·Σxy − Σx·Σy) /
    sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))`` over the moment sums.
    Returns ``(col_a, col_b, corr, n)`` — one row per unordered pair
    (``col_a < col_b`` lexicographically by input order), ``corr``
    rounded to 6, NULL when either column is constant (zero variance).

    Rows containing a NULL in ANY of ``cols`` are dropped first
    (listwise deletion), so every pair shares the same ``n`` —
    document-simple and what the oracle replicates; pre-filter yourself
    for pairwise-complete semantics.

    Deterministic: moment sums use the DECIMAL(38,9) pattern (module
    docstring), so the matrix is bit-stable across partitionings and
    engines. One scan, map-side partial aggregation, a 1-row moment
    table — nothing else moves.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    if len(set(cols)) != len(cols):
        raise ValueError("duplicate column names")
    clean = df.dropna(subset=cols)
    # aggregates and the recombination array are one-shot SQL parses
    # (_dsum_sql note): ~1200 JVM round trips -> ~30 per plan build,
    # identical expressions
    aggs = [F.expr("cast(count(1) as double) as _n")]
    for c in cols:
        x = f"cast({_q(c)} as double)"
        aggs.append(F.expr(f"{_dsum_sql(x)} as {_q(f'_s_{c}')}"))
        aggs.append(F.expr(f"{_dsum_sql(f'{x} * {x}')} as {_q(f'_ss_{c}')}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            xa = f"cast({_q(a)} as double)"
            xb = f"cast({_q(b)} as double)"
            aggs.append(F.expr(
                f"{_dsum_sql(f'{xa} * {xb}')} as {_q(f'_sp_{a}_{b}')}"))
    m = clean.agg(*aggs)

    def corr_sql(a: str, b: str) -> str:
        sp, sa, sb = _q(f"_sp_{a}_{b}"), _q(f"_s_{a}"), _q(f"_s_{b}")
        ssa, ssb = _q(f"_ss_{a}"), _q(f"_ss_{b}")
        cov = f"(_n * {sp} - {sa} * {sb})"
        va = f"(_n * {ssa} - {sa} * {sa})"
        vb = f"(_n * {ssb} - {sb} * {sb})"
        return (
            f"case when {va} > 0 and {vb} > 0 "
            f"then round({cov} / sqrt({va} * {vb}), 6) end"
        )

    def slit(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    pairs = F.expr("array({})".format(", ".join(
        f"named_struct('col_a', {slit(a)}, 'col_b', {slit(b)}, "
        f"'corr', {corr_sql(a, b)})"
        for i, a in enumerate(cols)
        for b in cols[i + 1:]
    )))
    return m.select(
        F.explode(pairs).alias("_p"), F.col("_n").cast("bigint").alias("n")
    ).select("_p.col_a", "_p.col_b", "_p.corr", "n")


def grouped_ols(
    df: DataFrame,
    y: str,
    x: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Per-group simple linear regression ``y = intercept + slope·x``
    in closed form from the moment sums — the trend-fit every BI layer
    ships, grouped (e.g. price-per-unit by return flag, daily growth by
    region) with no ML library and no iteration::

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n
        r2        = cov² / (var_x · var_y)

    Returns ``(by…, n, slope, intercept, r2)``, each statistic rounded
    to 6; slope/r2 NULL for a zero-variance ``x`` (and intercept then
    NULL too — no line to fit). Rows with NULL in ``x``/``y`` drop.

    Deterministic DECIMAL(38,9) moment sums (module docstring); one
    partial-aggregated pass, shuffling only the |groups|-row moment
    table on the group keys.
    """
    by = list(by)
    clean = df.dropna(subset=[x, y])
    xc = f"cast({_q(x)} as double)"
    yc = f"cast({_q(y)} as double)"
    g = clean.groupBy(*by) if by else clean.groupBy()
    # one-shot SQL parses (_dsum_sql note) — identical expressions
    m = g.agg(
        F.expr("cast(count(1) as double) as _n"),
        F.expr(f"{_dsum_sql(xc)} as _sx"),
        F.expr(f"{_dsum_sql(yc)} as _sy"),
        F.expr(f"{_dsum_sql(f'{xc} * {xc}')} as _sxx"),
        F.expr(f"{_dsum_sql(f'{yc} * {yc}')} as _syy"),
        F.expr(f"{_dsum_sql(f'{xc} * {yc}')} as _sxy"),
    )
    vx = "(_n * _sxx - _sx * _sx)"
    vy = "(_n * _syy - _sy * _sy)"
    cov = "(_n * _sxy - _sx * _sy)"
    slope = f"case when {vx} > 0 then {cov} / {vx} end"
    intercept = f"case when {vx} > 0 then (_sy - ({slope}) * _sx) / _n end"
    # (cov·cov)/(vx·vy), not pow(corr, 2): POWER's libm rounding is not
    # guaranteed identical across engines; plain multiply/divide is
    r2 = f"case when {vx} > 0 and {vy} > 0 then {cov} * {cov} / ({vx} * {vy}) end"
    return m.select(
        *by,
        F.expr("cast(_n as bigint) as n"),
        F.expr(f"round({slope}, 6) as slope"),
        F.expr(f"round({intercept}, 6) as intercept"),
        F.expr(f"round({r2}, 6) as r2"),
    )


def frequent_itemsets(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    min_support: float = 0.0,
    max_basket_items: int | None = None,
) -> DataFrame:
    """Association-rule mining over baskets — the 2-itemset level of
    market-basket analysis (Agrawal & Srikant 1994's support/confidence
    framework): for every unordered item pair co-occurring in at least
    ``min_pair_count`` baskets and at support ≥ ``min_support``,

    - ``support``  = P(a, b)        — co-occurrence share of baskets
    - ``conf_ab``  = P(b | a), ``conf_ba`` = P(a | b)
    - ``lift``     = P(a, b) / (P(a) · P(b)) — >1 means genuinely
      associated, not just individually popular

    Returns ``(item_a, item_b, pair_n, support, conf_ab, conf_ba,
    lift)`` with ``item_a < item_b`` and ratios rounded to 6. All
    counts are integers, so the result is exactly reproducible.

    Scale shape (100 TB):
    - the raw stream shuffles ONCE, on the basket key, into a
      deduplicated sorted item array per basket (``collect_set`` —
      state bounded by basket size);
    - ``max_basket_items`` guards the within-basket quadratic (the same
      degenerate-blowup class :func:`~yaetl_spark.operators.similarity.
      semantic_dedup` guards with ``max_cell_rows``): a pathological
      mega-basket — one customer key holding a large slice of the
      stream — makes pair expansion O(m²) rows for that basket alone.
      The guard is IN-PLAN (``raise_error`` on the oversized item
      array, naming the basket and its item count) — zero cost on
      clean data, where an eager pre-check would run the basket
      shuffle twice. It fires before any pair expands; a basket too
      large to even materialize its item set still fails in the
      aggregation itself — profile with ``key_skew_profile`` first
      when keys may hold executor-memory-scale item counts. Sizing
      rule: a basket of ``m`` items emits ``m·(m-1)/2`` pair rows, so
      bound by what one task should absorb (e.g. 10_000 items ≈ 5e7
      pair rows for that basket);
    - pair expansion is scan-level array arithmetic over that grouped
      frame (never a second shuffle of the stream, never a self-join —
      quadratic only within a basket);
    - item totals explode from the SAME grouped frame; together with
      the pair counts, every downstream shuffle is over the bounded
      pair/item vocabulary, and the basket count rides in via a 1-row
      broadcast hash join
      (:func:`~yaetl_spark.operators.curation.attach_scalars`);
    - the grouped frame is pinned with
      :func:`~yaetl_spark.session.compute_once`: its four consumers
      (basket count, two item-total legs, pair expansion) previously
      re-derived it — four corpus scans and four basket shuffles per
      execution, of which AQE stage reuse recovered only two — and now
      read one materialized copy (one scan, one shuffle).
    """
    from ..session import compute_once
    from .curation import attach_scalars

    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    if not 0.0 <= min_support <= 1.0:
        raise ValueError("min_support must be in [0, 1]")
    grouped = (
        df.select(
            F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
        )
        .filter(F.col("_bk").isNotNull() & F.col("_it").isNotNull())
        .groupBy("_bk")
        .agg(F.array_sort(F.collect_set("_it")).alias("_items"))
    )
    grouped = compute_once(grouped)
    if max_basket_items is not None:
        if max_basket_items < 1:
            raise ValueError("max_basket_items must be >= 1")
        grouped = grouped.withColumn(
            "_items",
            F.when(
                F.size("_items") <= F.lit(int(max_basket_items)),
                F.col("_items"),
            ).otherwise(F.raise_error(F.concat(
                F.lit("frequent_itemsets basket "),
                F.col("_bk").cast("string"),
                F.lit(" holds "), F.size("_items").cast("string"),
                F.lit(f" distinct items (> max_basket_items="
                      f"{max_basket_items}): pair expansion is "
                      "quadratic within a basket — split or drop the "
                      "mega-basket upstream, or raise max_basket_items "
                      "if the cost is acceptable"),
            ))),
        )
    nb_row = grouped.agg(F.count(F.lit(1)).cast("double").alias("_nb"))
    # pinned too: the item-total table joins back TWICE (once per pair
    # side); unpinned, each leg re-runs the explode + vocabulary shuffle
    item_n = compute_once(
        grouped.select(F.explode("_items").alias("_it"))
        .groupBy("_it")
        .agg(F.count(F.lit(1)).alias("_in"))
    )
    m = F.size("_items")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), m - 1),
            lambda i: F.transform(
                F.sequence(i + 1, m),
                lambda j: F.struct(
                    F.element_at(F.col("_items"), i).alias("item_a"),
                    F.element_at(F.col("_items"), j).alias("item_b"),
                ),
            ),
        )
    )
    pairs = (
        grouped.filter(m >= 2)
        .select(F.explode(pair_structs).alias("_p"))
        .groupBy(
            F.col("_p.item_a").alias("item_a"),
            F.col("_p.item_b").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_count)
    )
    enriched = (
        attach_scalars(pairs, nb_row, "item_a")
        .join(item_n.withColumnRenamed("_in", "_na"),
              F.col("item_a") == F.col("_it")).drop("_it")
        .join(item_n.withColumnRenamed("_in", "_nb_item"),
              F.col("item_b") == F.col("_it")).drop("_it")
    )
    support = F.col("pair_n") / F.col("_nb")
    out = enriched.select(
        "item_a", "item_b",
        F.col("pair_n").cast("bigint").alias("pair_n"),
        F.round(support, 6).alias("support"),
        F.round(F.col("pair_n") / F.col("_na"), 6).alias("conf_ab"),
        F.round(F.col("pair_n") / F.col("_nb_item"), 6).alias("conf_ba"),
        F.round(
            F.col("pair_n") * F.col("_nb") / (F.col("_na") * F.col("_nb_item")),
            6,
        ).alias("lift"),
    )
    if min_support > 0.0:
        out = out.filter(F.col("support") >= F.lit(float(min_support)))
    return out


def welch_t(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups (Welch 1947)
    — the A/B-test primitive — computed from moment sums in ONE
    conditional-aggregation pass (no pivot, no second scan)::

        t   = (mean_a − mean_b) / sqrt(s²_a/n_a + s²_b/n_b)
        dof = (s²_a/n_a + s²_b/n_b)² /
              ((s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1))

    with ``s²`` the sample variance ``(Σx² − (Σx)²/n)/(n−1)``. Returns
    ONE row ``(n_a, n_b, mean_a, mean_b, mean_diff, t_stat, dof)``,
    statistics rounded to 6, ``t_stat``/``dof`` NULL when either group
    has fewer than 2 rows or zero variance. The statistic is left for
    the caller to convert to a p-value (Student-t CDFs are not
    engine-portable primitives; the statistic itself is deterministic).

    Deterministic DECIMAL(38,9) moment sums (module docstring); scale
    shape: one scan, map-side partial aggregation, a 1-row result.
    """
    x = F.col(value_col).cast("double")
    g = F.col(group_col)
    in_a = g == F.lit(group_a)
    in_b = g == F.lit(group_b)

    def cond_sum(cond: Column, expr: Column) -> Column:
        return F.sum(
            F.when(cond, F.round(expr, 9).cast(_DEC)).otherwise(
                F.lit(0).cast(_DEC)
            )
        ).cast("double")

    m = df.filter(x.isNotNull() & (in_a | in_b)).agg(
        F.count(F.when(in_a, 1)).cast("double").alias("_na"),
        F.count(F.when(in_b, 1)).cast("double").alias("_nb"),
        cond_sum(in_a, x).alias("_sa"),
        cond_sum(in_b, x).alias("_sb"),
        cond_sum(in_a, x * x).alias("_ssa"),
        cond_sum(in_b, x * x).alias("_ssb"),
    )
    na, nb = F.col("_na"), F.col("_nb")
    ma, mb = F.col("_sa") / na, F.col("_sb") / nb
    va = (F.col("_ssa") - F.col("_sa") * F.col("_sa") / na) / (na - 1)
    vb = (F.col("_ssb") - F.col("_sb") * F.col("_sb") / nb) / (nb - 1)
    se2 = va / na + vb / nb
    ok = (na >= 2) & (nb >= 2) & (se2 > 0)
    t = F.when(ok, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        ok,
        se2 * se2
        / (
            (va / na) * (va / na) / (na - 1)
            + (vb / nb) * (vb / nb) / (nb - 1)
        ),
    )
    return m.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(ma - mb, 6).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("dof"),
    )


def chi_square(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two CATEGORICAL
    columns: ``chi2 = Σ_cells (observed − expected)² / expected`` with
    ``expected = row_total · col_total / n``. Returns ONE row
    ``(chi2, dof, n, n_cells)`` — ``dof = (|A|−1)(|B|−1)``, ``chi2``
    rounded to 6. NULL rows in either column drop.

    Only OBSERVED cells contribute to the sum — algebraically the
    missing-cell terms are pure ``expected`` mass, which this
    implementation adds back in closed form (Σ expected over all cells
    = n, so ``chi2 = Σ_observed (o−e)²/e + (n − Σ_observed e)``) —
    no dense cell cross join ever materializes.

    Scale shape: one count aggregation over the (a, b) cells (map-side
    combine), then window sums over the BOUNDED cell table (categorical
    contract — cardinalities are small; a high-cardinality pair makes
    the cell table itself the cost). Per-cell terms round to 9 and sum
    as DECIMAL(38,9) for engine determinism.
    """
    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    w_all = Window.partitionBy()
    cells = (
        cells.withColumn("_ra", F.sum("_o").over(Window.partitionBy("_a")))
        .withColumn("_cb", F.sum("_o").over(Window.partitionBy("_b")))
        .withColumn("_n", F.sum("_o").over(w_all))
    )
    e = (
        F.col("_ra").cast("double")
        * F.col("_cb").cast("double")
        / F.col("_n").cast("double")
    )
    term = (F.col("_o") - e) * (F.col("_o") - e) / e
    return cells.agg(
        F.round(
            F.sum(F.round(term, 9).cast(_DEC)).cast("double")
            + (
                F.any_value("_n").cast("double")
                - F.sum(F.round(e, 9).cast(_DEC)).cast("double")
            ),
            6,
        ).alias("chi2"),
        (
            (F.countDistinct("_a") - 1) * (F.countDistinct("_b") - 1)
        ).cast("bigint").alias("dof"),
        F.any_value("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    z: float = 3.5,
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Median/MAD outlier detection per group — the robust alternative
    to mean±k·σ (one mega-outlier inflates σ enough to hide itself;
    the median absolute deviation doesn't move). A row is an outlier
    when its modified z-score ``0.6745·(x − median)/MAD`` exceeds ``z``
    in magnitude (Iglewicz & Hoaglin 1993's recommended 3.5 default).

    Returns one row per group: ``(by…, n, median, mad, n_outliers,
    outlier_share)`` — median/MAD rounded to 6 BEFORE the z compare
    (the bit-stability move: the flag decision, not just the reported
    stats, is reproducible across engines), share rounded to 6. A
    zero-MAD group (> half the values identical) reports NULL
    ``n_outliers``/``outlier_share`` — the statistic is undefined
    there, and silently flagging every non-modal value would be worse.

    Scale shape (100 TB): two aggregation passes are inherent (MAD
    needs the median first); each reduces to a |groups|-row table that
    joins back broadcast-size, so the stream shuffles ZERO times —
    only the two bounded stat tables move. ``percentile_approx``
    sketches by default (mergeable, constant-size); ``exact=True``
    switches to the sort-based ``percentile`` for oracle runs.
    """
    by = list(by)
    if z <= 0:
        raise ValueError("z must be > 0")
    from .curation import attach_scalars

    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {accuracy}"
    x = F.col(value_col).cast("double")
    clean = df.dropna(subset=[value_col])
    # backtick-quote the identifier inside expr strings: unlike the
    # F.col paths, a raw f-string interpolation would mis-parse names
    # with spaces/dots/hyphens
    vq = "`" + value_col.replace("`", "``") + "`"
    g1 = clean.groupBy(*by).agg(
        F.round(F.expr(f"{fn}({vq}, 0.5{acc})"), 6).alias("_med")
    )
    # grouped: broadcast the |groups|-row stat table; global: 1-row
    # in-plan attach (a crossJoin would plan BroadcastNestedLoopJoin)
    devs = (
        clean.join(F.broadcast(g1), by) if by
        else attach_scalars(clean, g1, value_col)
    )
    g2 = devs.groupBy(*by).agg(
        F.any_value("_med").alias("_med"),
        F.round(
            F.expr(
                f"{fn}(abs(cast({vq} as double) - _med), 0.5{acc})"
            ),
            6,
        ).alias("_mad"),
        F.count(F.lit(1)).alias("_n"),
    )
    flagged = (
        clean.join(F.broadcast(g2), by) if by
        else attach_scalars(clean, g2, value_col)
    )
    # NULL divisor instead of raw _mad: a zero-MAD group is defined as
    # NULL output anyway, and an ANSI session (Spark 4 throws on
    # double/0 too) must not blow up computing a value we discard
    mz = F.round(
        F.lit(0.6745) * (x - F.col("_med"))
        / F.when(F.col("_mad") > 0, F.col("_mad")),
        6,
    )
    out = flagged.groupBy(*by).agg(
        F.any_value("_n").cast("bigint").alias("n"),
        F.any_value("_med").alias("median"),
        F.any_value("_mad").alias("mad"),
        F.sum(
            F.when(F.abs(mz) > F.lit(float(z)), 1).otherwise(0)
        ).cast("bigint").alias("_nout"),
    )
    defined = F.col("mad") > 0
    return out.select(
        *by,
        "n", "median", "mad",
        F.when(defined, F.col("_nout")).alias("n_outliers"),
        F.when(
            defined, F.round(F.col("_nout") / F.col("n"), 6)
        ).alias("outlier_share"),
    )


def key_skew_profile(
    df: DataFrame,
    keys: Sequence[str],
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Join/aggregation-key skew diagnostic — the profiling query to
    run BEFORE committing a 100 TB shuffle to a key: the distribution
    of rows per key value, reduced to one row: ``(n_rows, n_keys,
    max_rows, p50_rows, p90_rows, p99_rows, top_key_share)``.
    ``top_key_share`` (heaviest key's fraction of the stream, rounded
    to 6) is the salting signal: ≳ 1/shuffle-partitions means the hot
    key alone fills a partition and the plain hash join stalls on one
    task — reach for :func:`~yaetl_spark.operators.joins.salted_join`
    or AQE skew handling.

    Scale shape: one partial-aggregated count per key (the same
    shuffle the real query would run, so the diagnostic costs what it
    measures), then the |keys|-row count table reduces to ONE row —
    percentiles over counts-per-key, never over the stream.
    ``percentile_approx`` by default; ``exact=True`` for oracle runs.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("keys must name at least one column")
    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {accuracy}"
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    return counts.agg(
        F.sum("_n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("_n").cast("bigint").alias("max_rows"),
        F.round(F.expr(f"{fn}(_n, 0.5{acc})"), 6).alias("p50_rows"),
        F.round(F.expr(f"{fn}(_n, 0.9{acc})"), 6).alias("p90_rows"),
        F.round(F.expr(f"{fn}(_n, 0.99{acc})"), 6).alias("p99_rows"),
        F.round(
            F.max("_n").cast("double") / F.sum("_n").cast("double"), 6
        ).alias("top_key_share"),
    )


def distribution_shift(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    buckets: int = 10,
    smooth: float = 1e-6,
    detail: bool = False,
) -> DataFrame:
    """Data-drift check between two snapshots of a numeric column —
    the monitoring query every long-running ingestion pipeline needs:
    has ``current``'s distribution moved away from ``reference``'s?
    Returns the three standard divergences over an equi-width
    bucketing: PSI (population stability index, the industry drift
    alarm — ≥0.1 "investigate", ≥0.25 "shifted"), KL(ref‖cur), and
    the symmetric, bounded Jensen-Shannon divergence.

    Buckets come from the REFERENCE side's min/max (``buckets``
    equi-width cells; values outside clamp into the edge cells, so a
    current snapshot that drifted beyond the reference range lands in
    the boundary buckets and registers loudly). Each side's bucket
    probability is smoothed as ``max(p, smooth)`` before the log terms
    (the standard PSI zero-cell fix), so every term is finite and the
    comparison is defined even for buckets one side never hits.

    ``detail=False`` (default): ONE summary row ``(n_ref, n_cur, psi,
    kl_ref_cur, js)``. ``detail=True``: one row per bucket
    ``(bucket, n_ref, n_cur, p_ref, p_cur, psi_term)`` for the
    which-bucket-moved drill-down. All probabilities and divergence
    terms rounded to 9 before the DECIMAL(38,9) term sum, final
    statistics rounded to 6 — the repo's absorb-the-ulps pattern, so
    the numbers hash-match a SQL oracle computing the same algebra.
    When either side has no non-NULL value, ``psi``/``kl_ref_cur``/
    ``js`` (and the detail ``p_ref``/``p_cur``/``psi_term``) are NULL
    while the counts stay — the ``sketches.summary_*`` contract.

    Scale shape (100 TB): the two snapshots are TAGGED and unioned, so
    the reference min/max rides ONE 1-row in-plan broadcast
    (:func:`~yaetl_spark.operators.curation.attach_scalars`) onto the
    single combined stream — the bounds lineage executes once, and the
    per-side bucket counts fall out of one partial-aggregated groupBy
    (conditional sums, no per-side aggregate + full-outer join);
    everything after folds ≤ ``buckets``-row tables. Total reference
    scans: exactly two (the bounds aggregate + the bucketing pass),
    both column-pruned to ``value_col``; cache/persist the reference
    projection first if scans rather than shuffles dominate your
    cluster.
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    if not 0.0 < smooth < 1.0:
        raise ValueError("smooth must be in (0, 1)")
    from .curation import attach_scalars

    ref = reference.dropna(subset=[value_col])
    cur = current.dropna(subset=[value_col])
    bounds = ref.agg(
        F.min(F.col(value_col).cast("double")).alias("_mn"),
        F.max(F.col(value_col).cast("double")).alias("_mx"),
    )

    # tag-and-union the snapshots: ONE bounds attach, ONE groupBy with
    # conditional per-side sums — no per-side aggregate + full-outer join
    tagged = ref.select(
        F.col(value_col).cast("double").alias("_x"),
        F.lit(1).alias("_is_ref"),
    ).unionByName(
        cur.select(
            F.col(value_col).cast("double").alias("_x"),
            F.lit(0).alias("_is_ref"),
        )
    )
    b = _equi_width_cell(
        F.col("_x"), F.col("_mn"), F.col("_mx"), int(buckets))
    cells = (
        attach_scalars(tagged, bounds, "_x")
        .select(b.alias("bucket"), F.col("_is_ref"))
        .groupBy("bucket")
        .agg(
            F.sum("_is_ref").alias("_nr"),
            F.sum(F.lit(1) - F.col("_is_ref")).alias("_nc"),
        )
    )
    return _divergences(cells, "bucket", smooth, detail)


def categorical_shift(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    top_k: int = 50,
    smooth: float = 1e-6,
    detail: bool = False,
) -> DataFrame:
    """:func:`distribution_shift` for CATEGORICAL columns (source tags,
    language codes, event types): PSI / KL(ref‖cur) / Jensen-Shannon
    over per-category frequencies instead of numeric buckets.

    The category table is bounded deterministically: the ``top_k``
    reference categories by reference count (ties broken by category
    value) keep their own cells; everything else — including
    categories the reference never saw — lumps into ``__other__``.
    That keeps the compared table at ``top_k + 1`` rows no matter how
    wild the current snapshot's value space is, and makes novel
    categories register as ``__other__`` growth. NULL category counts
    as the literal ``__null__`` cell and ALWAYS keeps its own cell,
    never lumping into ``__other__`` (a source suddenly emitting NULL
    tags IS drift, and it should say so by name). Same
    ``max(p, smooth)`` zero-cell smoothing, rounding, DECIMAL term-sum
    discipline and empty-side NULLs as the numeric variant.

    ``detail=False``: ONE row ``(n_ref, n_cur, psi, kl_ref_cur, js)``;
    ``detail=True``: per-category ``(category, n_ref, n_cur, p_ref,
    p_cur, psi_term)``.

    Scale shape (100 TB): each snapshot is ONE count-by-category
    aggregation (map-side combinable — the stream never shuffles, only
    the |categories|-row count tables move); the top-k membership is a
    window over the reference count table, broadcast back onto both
    count tables; everything downstream folds ``top_k + 1`` rows.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    if not 0.0 < smooth < 1.0:
        raise ValueError("smooth must be in (0, 1)")
    k = int(top_k)
    cat = F.coalesce(F.col(value_col).cast("string"), F.lit("__null__"))

    def counts(df: DataFrame, n_name: str) -> DataFrame:
        return (
            df.select(cat.alias("_c"))
            .groupBy("_c")
            .agg(F.count(F.lit(1)).alias(n_name))
        )

    rc = counts(reference, "_nr")
    cc = counts(current, "_nc")
    top = (
        rc.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy().orderBy(
                    F.col("_nr").desc(), F.col("_c").asc()
                )
            ),
        )
        .filter(F.col("_rk") <= k)
        .select("_c")
    )

    def lumped(tbl: DataFrame, n_name: str) -> DataFrame:
        return (
            tbl.join(F.broadcast(top.withColumn("_keep", F.lit(True))),
                     "_c", "left")
            .select(
                # __null__ always keeps its own cell (it is a diagnostic,
                # not a tail category), whether or not it made the top-k
                F.when(
                    F.col("_keep") | (F.col("_c") == "__null__"),
                    F.col("_c"),
                ).otherwise(F.lit("__other__")).alias("_c"),
                F.col(n_name),
            )
            .groupBy("_c")
            .agg(F.sum(n_name).alias(n_name))
        )

    cells = (
        lumped(rc, "_nr").join(lumped(cc, "_nc"), "_c", "full")
        .select(
            F.col("_c").alias("category"),
            F.coalesce("_nr", F.lit(0)).alias("_nr"),
            F.coalesce("_nc", F.lit(0)).alias("_nc"),
        )
    )
    return _divergences(cells, "category", smooth, detail)


# --- driver-side p-value helpers --------------------------------------------
#
# welch_t / chi_square return deterministic STATISTICS (t_stat + dof,
# chi2 + dof) because CDF evaluation has no place in an oracle-checked
# plan (engines disagree at the ulp on transcendental folds). These two
# helpers close the A/B-testing workflow driver-side: plain-Python
# special functions implemented from the classical continued-fraction /
# series forms (Abramowitz & Stegun §6.5, §26.5; DLMF 8.9, 8.11.4) —
# deterministic, dependency-free, accurate to ~1e-10 over the useful
# range, unit-tested against published table fixtures.

def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta
    (A&S 26.5.8, evaluated with Lentz's method)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    return h


def _reg_inc_beta(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b), continued-fraction form
    with the standard symmetry switch at the convergence boundary."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log1p(-x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def welch_t_pvalue(t_stat: float, dof: float) -> float:
    """Two-sided p-value for a t statistic at (possibly fractional,
    Welch–Satterthwaite) ``dof``: ``P(|T| >= |t|) = I_x(dof/2, 1/2)``
    with ``x = dof / (dof + t²)``. Feed it ``welch_t``'s ``t_stat`` /
    ``dof`` columns. Pure driver-side math — the oracle-checked plan
    stays CDF-free by design."""
    if dof <= 0:
        raise ValueError("dof must be > 0")
    t = float(t_stat)
    x = dof / (dof + t * t)
    return _reg_inc_beta(dof / 2.0, 0.5, x)


def chi_square_pvalue(stat: float, dof: float) -> float:
    """Upper-tail p-value ``P(X >= stat)`` for a chi-square statistic:
    the regularized upper incomplete gamma ``Q(dof/2, stat/2)`` — lower
    series below the ``s + 1`` boundary, continued fraction above
    (A&S 6.5.29 / 6.5.31). Feed it ``chi_square``'s ``chi2`` / ``dof``
    columns."""
    import math

    if dof <= 0:
        raise ValueError("dof must be > 0")
    x = float(stat) / 2.0
    s = float(dof) / 2.0
    if x <= 0.0:
        return 1.0
    if x < s + 1.0:
        # lower series for P(s, x), then Q = 1 - P
        term = 1.0 / s
        total = term
        sn = s
        for _ in range(1000):
            sn += 1.0
            term *= x / sn
            total += term
            if abs(term) < abs(total) * 1e-15:
                break
        p = total * math.exp(-x + s * math.log(x) - math.lgamma(s))
        return max(0.0, min(1.0, 1.0 - p))
    # continued fraction for Q(s, x) (Lentz)
    tiny = 1e-300
    b = x + 1.0 - s
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 1000):
        an = -i * (i - s)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    q = h * math.exp(-x + s * math.log(x) - math.lgamma(s))
    return max(0.0, min(1.0, q))


def ks_test(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two snapshots of
    a numeric column, per group — the DISTRIBUTION-FREE companion to
    :func:`distribution_shift`: no bucketing choices, no smoothing
    constant; ``ks_d`` is the max ECDF gap
    ``D = max_v |F_ref(v) − F_cur(v)|`` evaluated at every distinct
    value (tie-safe: counts accumulate per distinct value BEFORE the
    gap is taken, the textbook treatment of ties). Returns one row per
    group: ``(by…, n_ref, n_cur, ks_d, ks_stat)`` with
    ``ks_stat = sqrt(n_ref·n_cur/(n_ref+n_cur)) · D`` (the scaled
    statistic ``ks_pvalue`` converts to the asymptotic p-value
    driver-side); groups missing either side are absent.

    EXACTLY deterministic with no decimal machinery: both ECDFs are
    ratios of integer counts, so every division divides the same two
    integers on any engine and any partitioning; ``ks_d``/``ks_stat``
    round to ``round_to`` only to absorb the final float ops.

    Scale shape (100 TB): each raw value is a unit-weight point of the
    shared two-sample CDF stage (``_cdf_stage``, the one behind the
    ``sketches.summary_*`` distances), so the snapshots are unioned
    (each side scanned once, column-pruned to ``by`` + ``value_col``); one
    (group, value) pre-aggregation shuffle collapses ties, one group
    shuffle orders the ≤ |distinct values| rows per group for the
    running ECDFs — the final max reuses that partitioning. Per-group
    window state is O(1); a single group's distinct values sort within
    one task (spill-backed), so for a GLOBAL KS over a high-cardinality
    column at full scale prefer the bucketed
    :func:`distribution_shift` — per-value exactness is the point of
    this operator, bounded cells are the point of that one.
    """
    by = list(by)
    group = by or ["_g"]

    def side(df: DataFrame) -> DataFrame:
        out = df.dropna(subset=[value_col])
        return out if by else out.withColumn("_g", F.lit(0))

    # groups missing a side have a NULL gap on every point
    staged = _cdf_stage(
        side(reference), side(current), F.col(value_col), F.lit(1), group
    ).filter(F.col("_cdf_gap").isNotNull())
    d = F.max("_cdf_gap")
    en = F.sqrt(
        F.max("_cdf_na").cast("double") * F.max("_cdf_nb").cast("double")
        / (F.max("_cdf_na").cast("double")
           + F.max("_cdf_nb").cast("double"))
    )
    return (
        staged.groupBy(*group)
        .agg(
            F.max("_cdf_na").cast("bigint").alias("n_ref"),
            F.max("_cdf_nb").cast("bigint").alias("n_cur"),
            F.round(d, round_to).alias("ks_d"),
            F.round(en * d, round_to).alias("ks_stat"),
        )
        .select(*by, "n_ref", "n_cur", "ks_d", "ks_stat")
    )


def ks_pvalue(ks_stat: float, terms: int = 100) -> float:
    """Asymptotic two-sample KS p-value from the scaled statistic
    (``ks_test``'s ``ks_stat``): the Kolmogorov distribution tail
    ``Q(λ) = 2·Σ_{k≥1} (−1)^{k−1} e^{−2k²λ²}`` (Smirnov 1948), the
    same driver-side-scalar pattern as :func:`welch_t_pvalue` — the
    distributed job computes the statistic, the p-value is O(1) math
    on the driver.

    The alternating series only converges for large-ish λ; below
    λ ≈ 1 it needs thousands of terms and below ~0.04 it returns
    garbage. The standard cure (Marsaglia, Tsang & Wang 2003) is the
    Jacobi-theta dual, which converges in a couple of terms exactly
    where the direct series fails:
    ``K(λ) = (√(2π)/λ)·Σ_{k≥1} e^{−(2k−1)²π²/(8λ²)}``, ``Q = 1 − K``.
    Both branches agree to ~1e-15 at the λ=1 crossover."""
    lam = float(ks_stat)
    if lam <= 0:
        return 1.0
    if lam < 1.0:
        # theta-dual branch: CDF K(λ), p = 1 - K
        pref = math.sqrt(2.0 * math.pi) / lam
        cdf = 0.0
        for k in range(1, terms + 1):
            term = math.exp(
                -((2 * k - 1) ** 2) * math.pi * math.pi
                / (8.0 * lam * lam)
            )
            cdf += term
            if term < 1e-18:
                break
        return max(0.0, min(1.0, 1.0 - pref * cdf))
    total = 0.0
    for k in range(1, terms + 1):
        term = 2.0 * (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        total += term
        if abs(term) < 1e-12:
            break
    return max(0.0, min(1.0, total))
