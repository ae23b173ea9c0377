"""Time-series regularization + cohort analytics (beyond-reference).

Gap-filling turns an event-driven aggregate (rows only where activity
happened) into a regular series (one row per key per period, carried
forward) — the prerequisite for joining series, charting, and window
math that assumes dense time. Cohort retention is the standard
product-analytics rollup: users grouped by first-activity period,
tracked by period offset.

Scale shapes:
- ``date_spine``/``gap_fill``: the spine is ``per-key (min, max)`` →
  ``explode(sequence(...))`` — size = keys × periods, generated
  distributed, never on the driver. The fill join shuffles on
  (key, period) where the aggregate side is already period-grained
  (small); the forward-fill window partitions by key.
- ``cohort_retention``: two shuffles — per-user first-activity (user-
  keyed, map-side combinable min), then the (cohort, offset) distinct-
  user count. User activity never multiplies: each (user, period) row
  contributes one count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .stats import _dsum_sql

__all__ = [
    "autocorrelation", "changepoints", "cohort_retention",
    "date_spine", "ewma", "gap_fill", "rolling_quantile",
    "seasonal_decompose",
]


def date_spine(
    df: DataFrame,
    key_cols: list[str],
    day_col: str,
    step: str = "1 day",
) -> DataFrame:
    """One row per key per period over each key's own [min, max] activity
    span: ``key_cols + [day_col]``. ``step`` is any Spark interval string
    (``"1 day"``, ``"1 hour"``, ``"15 minutes"``, ``"7 days"`` — the
    period column's type must support it: DATE steps by whole days,
    TIMESTAMP by any interval). Generated with
    ``explode(sequence(min, max, step))`` per key — distributed, and
    spine size is bounded by keys × span/step, independent of event
    count. Input values must already sit on step boundaries (they come
    from a ``date_trunc``-style aggregate), or spine rows won't align
    with data rows."""
    return (
        df.groupBy(*key_cols)
        .agg(F.min(day_col).alias("_lo"), F.max(day_col).alias("_hi"))
        .select(
            *key_cols,
            F.explode(
                F.sequence("_lo", "_hi", F.expr(f"interval {step}"))
            ).alias(day_col),
        )
    )


def gap_fill(
    daily: DataFrame,
    key_cols: list[str],
    day_col: str,
    fill_cols: dict[str, str],
    step: str = "1 day",
) -> DataFrame:
    """Densify a per-(key, period) aggregate onto the full per-key spine
    (``step`` as in :func:`date_spine` — hourly, weekly, …).

    ``fill_cols`` maps column → strategy: ``"ffill"`` carries the last
    observed value forward (leading gaps stay NULL), ``"zero"`` fills
    gaps with 0. Rows arrive back one-per-key-per-period.
    """
    spine = date_spine(daily, key_cols, day_col, step=step)
    joined = spine.join(daily, [*key_cols, day_col], "left")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = joined
    for col, how in fill_cols.items():
        if how == "ffill":
            out = out.withColumn(col, F.last(col, ignorenulls=True).over(w))
        elif how == "zero":
            out = out.withColumn(
                col, F.coalesce(F.col(col), F.lit(0).cast(joined.schema[col].dataType))
            )
        else:
            raise ValueError(f"unknown fill strategy {how!r} for {col}")
    return out


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Cohort × offset retention counts: users grouped by their first
    active period (``cohort``), counted once per later period at
    ``offset = period - cohort`` (in periods). Returns
    ``(cohort, offset, n_users)`` with offset 0 = the cohort size."""
    if period not in ("day", "week", "month"):
        raise ValueError("period must be day/week/month")
    p = F.date_trunc(period, F.col(ts_col)).cast("date")
    active = events.select(
        F.col(user_col).alias("_u"), p.alias("_p")
    ).distinct()
    first = active.groupBy("_u").agg(F.min("_p").alias("_cohort"))
    div = {"day": 1, "week": 7}.get(period)
    if div is not None:
        offset = (F.datediff("_p", "_cohort") / div).cast("long")
    else:
        offset = (
            (F.year("_p") - F.year("_cohort")) * 12
            + (F.month("_p") - F.month("_cohort"))
        ).cast("long")
    return (
        active.join(first, "_u")
        .groupBy(F.col("_cohort").alias("cohort"), offset.alias("offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def ewma(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    by: list[str],
    alpha: float = 0.3,
    order_col: str | None = None,
    max_points: int | None = None,
) -> DataFrame:
    """Per-key exponentially weighted moving average — the standard
    smoother for per-entity metric streams (user engagement, sensor
    drift, queue depth): ``s_i = α·x_i + (1−α)·s_{i−1}`` folded over
    each key's time-ordered values, seeded with the first value.
    Returns one row per key: ``(by…, n_points, ewma)`` with ``ewma``
    the final smoothed level, rounded to 6.

    The fold is a scan-level ``aggregate`` over the key's sorted value
    array — the SAME left-to-right IEEE double sequence a SQL engine's
    ``list_reduce`` runs, so the result is bit-reproducible across
    engines (ties broken by ``order_col`` so the order itself is
    deterministic too; ``order_col`` defaults to ``ts_col``).

    Scale shape (100 TB): ONE key-partitioned shuffle into per-key
    arrays, then pure expression work — no joins, no Python, no
    iteration. The per-key array is the bounded state: ``max_points``
    is the mega-key guard (same discipline as ``semantic_dedup.
    max_cell_rows`` / ``funnel_steps.max_events_per_user``), enforced
    IN-PLAN — a key holding more than ``max_points`` values fails the
    job naming the key, at zero cost on clean data. It bounds the
    downstream fold; a key too large to even materialize its array
    still fails in the aggregation itself — profile with
    ``key_skew_profile`` first when keys may hold
    executor-memory-scale point counts.
    """
    by = list(by)
    if not by:
        raise ValueError(
            "by must name at least one key column (for a single global "
            "series, add a constant key)"
        )
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if max_points is not None and max_points < 1:
        raise ValueError("max_points must be >= 1")
    ordc = order_col or ts_col
    clean = df.dropna(subset=[value_col, ts_col])
    grouped = clean.groupBy(*by).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("_t"),
                    F.col(ordc).alias("_o"),
                    F.col(value_col).cast("double").alias("_v"),
                )
            )
        ).alias("_pts")
    )
    vals = F.transform(F.col("_pts"), lambda s: s["_v"])
    a = F.lit(float(alpha))
    one_minus = F.lit(1.0) - F.lit(float(alpha))
    folded = F.aggregate(
        F.slice(vals, F.lit(2), F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: a * x + one_minus * acc,
    )
    if max_points is not None:
        key_str = F.concat_ws(
            ",", *[F.col(c).cast("string") for c in by]
        )
        folded = F.when(
            F.size("_pts") <= F.lit(int(max_points)), folded
        ).otherwise(
            F.raise_error(F.concat(
                F.lit("ewma: key ("), key_str,
                F.lit(") holds "), F.size("_pts").cast("string"),
                F.lit(f" points (> max_points={max_points}); the "
                      "per-key array would materialize in one task — "
                      "segment or downsample the mega-key upstream"),
            ))
        )
    return grouped.select(
        *by,
        F.size("_pts").cast("bigint").alias("n_points"),
        F.round(folded, 6).alias("ewma"),
    )


def seasonal_decompose(
    df: DataFrame,
    value_col: str,
    index_col: str,
    by: list[str],
    period: int,
    round_to: int = 6,
) -> DataFrame:
    """Additive seasonal decomposition of a regular per-key series:
    ``value = trend + seasonal + residual`` (Cleveland et al.'s STL
    shape, simplified to the classic one-pass moving-average variant —
    the drift-monitoring primitive for per-source ingest volumes at
    100 TB: a residual spike is an anomaly AFTER seasonality is
    explained away, so weekly rhythm stops masking real shifts).

    Inputs: ``index_col`` is an integer period index (0, 1, 2, … — e.g.
    ``datediff(day, start)``), unique per key, regular step. ``period``
    is the seasonal cycle length in steps (7 for weekly-on-daily).
    Returns one row per input row:
    ``(by…, index, value, trend, seasonal, residual)``.

    - ``trend``: centered simple moving average over ``2·(period//2)+1``
      rows, emitted only where the full window exists (series edges are
      NULL — the honest classic behavior, no half-window bias).
    - ``seasonal``: per (key, ``index mod period``) mean of the
      detrended values, centered by subtracting the key's mean
      detrended value (row-weighted centering — equals the classic
      sum-to-zero-over-a-cycle centering on balanced series, and is
      expressible without a second pass).
    - ``residual = value − trend − seasonal`` where both exist.

    Determinism: every mean is a DECIMAL(38,9) term sum divided by an
    exact count (the module-wide engine-parity pattern), and
    trend/seasonal/residual are rounded to ``round_to`` so the compared
    values are bit-stable across engines.

    Scale shape (100 TB): pure window math, ZERO joins — one shuffle on
    the series key (ordered window for the trend + full-partition window
    for centering share the exchange), one on (key, phase). Per-key
    state is the running window, never a materialized array; a mega-key
    serializes its own sort but cannot OOM. Phases ride the same rows —
    the (key, phase) partition count is bounded by keys × period.
    """
    by = list(by)
    if not by:
        raise ValueError(
            "by must name at least one key column (for a single global "
            "series, add a constant key)"
        )
    if period < 2:
        raise ValueError("period must be >= 2")
    half = period // 2
    full = 2 * half + 1
    dec = "decimal(38,9)"
    idx = F.col(index_col).cast("long")
    val = F.col(value_col).cast("double")
    clean = df.dropna(subset=[value_col, index_col]).select(
        *by, idx.alias(index_col), val.alias(value_col)
    )
    w_tr = (
        Window.partitionBy(*by)
        .orderBy(index_col)
        .rowsBetween(-half, half)
    )
    n_win = F.count(F.lit(1)).over(w_tr)
    trend = F.when(
        n_win == full,
        F.round(
            F.sum(F.round(F.col(value_col), 9).cast(dec)).over(w_tr)
            .cast("double") / F.lit(float(full)),
            round_to,
        ),
    )
    with_tr = clean.select(
        *by, index_col, value_col,
        trend.alias("trend"),
        F.pmod(F.col(index_col), F.lit(period)).alias("_phase"),
    ).withColumn(
        "_detr", F.round(F.col(value_col) - F.col("trend"), 9)
    )
    w_ph = Window.partitionBy(*by, "_phase")
    w_key = Window.partitionBy(*by)
    phase_mean = (
        F.sum(F.col("_detr").cast(dec)).over(w_ph).cast("double")
        / F.count("_detr").over(w_ph)
    )
    key_mean = (
        F.sum(F.col("_detr").cast(dec)).over(w_key).cast("double")
        / F.count("_detr").over(w_key)
    )
    seasonal = F.round(phase_mean - key_mean, round_to)
    return (
        with_tr.withColumn("seasonal", seasonal)
        .select(
            *by,
            index_col,
            F.col(value_col).alias("value"),
            "trend",
            "seasonal",
            F.round(
                F.col(value_col) - F.col("trend") - F.col("seasonal"),
                round_to,
            ).alias("residual"),
        )
    )


def changepoints(
    df: DataFrame,
    value_col: str,
    index_col: str,
    by: list[str],
    threshold: float = 3.0,
    min_segment: int = 2,
    round_to: int = 6,
    max_points: int | None = None,
) -> DataFrame:
    """Single most-likely mean-shift changepoint per key — depth-1
    binary segmentation with the standardized two-sample CUSUM statistic
    (Page '54 / Scott & Knott '74 lineage): for every admissible split
    ``i`` of the key's ordered series, score
    ``sqrt(i·(n−i)/n) · |mean(x₁…xᵢ) − mean(xᵢ₊₁…xₙ)|`` and keep the
    argmax. ``is_change`` flags scores above ``threshold · sd`` (sample
    stddev of the whole series) — the z-like decision rule. The
    monitoring companion to :func:`seasonal_decompose`: run it over
    residuals (or raw daily aggregates) to catch level shifts in ingest
    volume / quality metrics that EWMA smoothing would lag on.

    ``index_col`` must be unique per key (it orders the prefix sums;
    ties would make the cumulative walk engine-dependent — same
    contract as :func:`seasonal_decompose`). Returns ONE row per key:
    ``(by…, n_points, cp_index, score, mean_before, mean_after, sd,
    is_change)`` — ``cp_index`` is the LAST index of the left segment;
    keys with fewer than ``2·min_segment`` points are absent (no
    admissible split). Ties (equal rounded score) break to the smallest
    split index, so the answer is deterministic.

    Determinism: prefix sums and moment sums accumulate as
    DECIMAL(38,9) rounded terms (exact, order-independent — a windowed
    float sum would depend on each engine's segment-tree order); means,
    the score, and ``sd`` derive from those via single IEEE float ops
    and round to ``round_to`` BEFORE the argmax and the threshold
    compare, so the pick itself is engine-stable.

    Scale shape (100 TB): every candidate split is evaluated from ONE
    ordered prefix-sum window — O(n) per key, no self-join over splits,
    no Python. One shuffle total: the ordered window, the full-partition
    moment window, and the final argmax row_number all share the
    key-hash exchange. Per-key state is O(1) running sums (windows
    stream; nothing collects an array); ``max_points`` is the in-plan
    mega-key guard — a key holding more points fails the job naming the
    key instead of silently serializing one giant task.
    """
    by = list(by)
    if not by:
        raise ValueError(
            "by must name at least one key column (for a single global "
            "series, add a constant key)"
        )
    if min_segment < 1:
        raise ValueError("min_segment must be >= 1")
    if threshold <= 0:
        raise ValueError("threshold must be > 0")
    if max_points is not None and max_points < 2 * min_segment:
        raise ValueError("max_points must be >= 2*min_segment")
    dec = "decimal(38,9)"
    val = F.col(value_col).cast("double")
    clean = df.dropna(subset=[value_col, index_col]).select(
        *by, F.col(index_col).alias("_idx"), val.alias("_v")
    )
    w_ord = (
        Window.partitionBy(*by)
        .orderBy("_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seq = Window.partitionBy(*by).orderBy("_idx")
    w_all = Window.partitionBy(*by)
    staged = clean.select(
        *by, "_idx",
        F.row_number().over(w_seq).alias("_i"),
        F.sum(F.round(F.col("_v"), 9).cast(dec)).over(w_ord).alias("_cum"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.sum(F.round(F.col("_v"), 9).cast(dec)).over(w_all).alias("_tot"),
        F.sum(F.round(F.col("_v") * F.col("_v"), 9).cast(dec))
        .over(w_all).alias("_sxx"),
    )
    if max_points is not None:
        key_str = F.concat_ws(
            ",", *[F.col(c).cast("string") for c in by]
        )
        staged = staged.withColumn(
            "_n",
            F.when(
                F.col("_n") <= F.lit(int(max_points)), F.col("_n")
            ).otherwise(F.raise_error(F.concat(
                F.lit("changepoints: key ("), key_str,
                F.lit(") holds "), F.col("_n").cast("string"),
                F.lit(f" points (> max_points={max_points}); segment or "
                      "downsample the mega-key upstream"),
            ))),
        )
    i_d = F.col("_i").cast("double")
    n_d = F.col("_n").cast("double")
    mean_l = F.col("_cum").cast("double") / i_d
    mean_r = (
        (F.col("_tot") - F.col("_cum")).cast("double") / (n_d - i_d)
    )
    score = F.round(
        F.sqrt(i_d * (n_d - i_d) / n_d) * F.abs(mean_l - mean_r),
        round_to,
    )
    # sample stddev from exact moment sums (never a windowed float sum)
    var = (
        (n_d * F.col("_sxx").cast("double")
         - F.col("_tot").cast("double") * F.col("_tot").cast("double"))
        / (n_d * (n_d - F.lit(1.0)))
    )
    sd = F.round(F.sqrt(F.greatest(var, F.lit(0.0))), round_to)
    splits = staged.filter(
        (F.col("_i") >= F.lit(int(min_segment)))
        & (F.col("_n") - F.col("_i") >= F.lit(int(min_segment)))
    ).select(
        *by, "_idx", "_i", "_n",
        score.alias("_score"),
        F.round(mean_l, round_to).alias("_ml"),
        F.round(mean_r, round_to).alias("_mr"),
        sd.alias("_sd"),
    )
    w_best = Window.partitionBy(*by).orderBy(
        F.col("_score").desc(), F.col("_i").asc()
    )
    return (
        splits.withColumn("_rk", F.row_number().over(w_best))
        .filter(F.col("_rk") == 1)
        .select(
            *by,
            F.col("_n").cast("bigint").alias("n_points"),
            F.col("_idx").alias("cp_index"),
            F.col("_score").alias("score"),
            F.col("_ml").alias("mean_before"),
            F.col("_mr").alias("mean_after"),
            F.col("_sd").alias("sd"),
            (F.col("_score") > F.round(
                F.lit(float(threshold)) * F.col("_sd"), round_to
            )).alias("is_change"),
        )
    )


def autocorrelation(
    df: DataFrame,
    value_col: str,
    index_col: str,
    by: list[str],
    max_lag: int,
    round_to: int = 6,
) -> DataFrame:
    """Per-key sample autocorrelation at lags ``1..max_lag`` — the
    Box-Jenkins estimator ``r_ℓ = Σ(x_t−x̄)(x_{t−ℓ}−x̄) / Σ(x_t−x̄)²``
    (global key mean/variance in the denominator, summation over the
    ``n−ℓ`` valid pairs). ``index_col`` must be unique per key — it
    orders the lag window, and ties would make which value is "the
    previous one" engine-dependent. The period-detection companion to
    :func:`seasonal_decompose`: a spike at lag 7 on daily data says
    "weekly" before you hard-code ``period=7``. Returns one row per
    (key, lag): ``(by…, lag, n_pairs, acf)``; ``acf`` is NULL for a
    zero-variance series and lags with no valid pair are absent.

    Determinism: the numerator expands to
    ``Σx_t·x_{t−ℓ} − x̄·(Σx_t + Σx_{t−ℓ}) + n_ℓ·x̄²`` so every Σ is a
    DECIMAL(38,9) rounded-term sum (exact, order-independent); the
    float recombination is a fixed IEEE sequence and ``acf`` rounds to
    ``round_to`` — engine- and partitioning-stable.

    Scale shape (100 TB): ONE key shuffle — the ordered lag window and
    the per-key aggregation share the exchange; ``max_lag`` lag columns
    ride the same rows (keep it tens, not thousands — each lag is one
    column and three sums); the per-(key, lag) recombination happens on
    the |keys|-row aggregate, exploded in-plan. No joins, no Python, no
    per-key arrays.
    """
    by = list(by)
    if not by:
        raise ValueError(
            "by must name at least one key column (for a single global "
            "series, add a constant key)"
        )
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    # Expression trees below are assembled as one-shot SQL parses
    # (F.expr) rather than nested Column calls: every Column operation
    # is a Python->JVM round trip, and this operator's ~4·max_lag
    # aggregates plus the per-lag recombination array cost ~1 s of pure
    # driver time per plan build when built call-by-call (guide §7.3:
    # avoid generating gigantic expression trees in loops). The parsed
    # SQL produces the IDENTICAL expressions (same round/cast/decimal
    # semantics) — pinned by the bit-exact oracle test.

    by_q = ", ".join(f"`{c}`" for c in by)
    val = F.col(value_col).cast("double")
    clean = df.dropna(subset=[value_col, index_col]).select(
        *by, F.col(index_col).alias("_idx"), val.alias("_x")
    )
    over = f"over (partition by {by_q} order by _idx)"
    lag_cols = [
        F.expr(f"lag(_x, {k}) {over} as _l{k}")
        for k in range(1, max_lag + 1)
    ]
    staged = clean.select(*by, "_x", *lag_cols)
    aggs = [
        F.expr("count(1) as _n"),
        F.expr(f"{_dsum_sql('_x')} as _sx"),
        F.expr(f"{_dsum_sql('_x * _x')} as _sxx"),
    ]
    for k in range(1, max_lag + 1):
        aggs.extend([
            F.expr(f"count(_l{k}) as _n{k}"),
            F.expr(f"{_dsum_sql(f'_x * _l{k}')} as _sxy{k}"),
            F.expr(
                f"{_dsum_sql(f'case when _l{k} is not null then _x end')}"
                f" as _sxt{k}"),
            F.expr(f"{_dsum_sql(f'_l{k}')} as _sxl{k}"),
        ])
    g = staged.groupBy(*by).agg(*aggs)
    mean = "(_sx / cast(_n as double))"
    denom = "(_sxx - _sx * _sx / cast(_n as double))"
    per_lag = F.expr("array({})".format(", ".join(
        f"named_struct("
        f"'lag', cast({k} as int), "
        f"'n_pairs', cast(_n{k} as bigint), "
        f"'acf', case when {denom} > 0 and _n{k} > 0 then round("
        f"(_sxy{k} - {mean} * (_sxt{k} + _sxl{k})"
        f" + cast(_n{k} as double) * {mean} * {mean})"
        f" / {denom}, {round_to}) end)"
        for k in range(1, max_lag + 1)
    )))
    return (
        g.select(*by, F.explode(per_lag).alias("_e"))
        .filter(F.col("_e.n_pairs") > 0)
        .select(
            *by,
            F.col("_e.lag").alias("lag"),
            F.col("_e.n_pairs").alias("n_pairs"),
            F.col("_e.acf").alias("acf"),
        )
    )


def rolling_quantile(
    df: DataFrame,
    value_col: str,
    order_col: str,
    by: list[str],
    q: float = 0.5,
    window: int = 7,
    out_col: str = "rolling_q",
    round_to: int = 6,
) -> DataFrame:
    """Per-key trailing-window exact quantile — the robust moving
    statistic (rolling median at ``q=0.5``) that an outlier-heavy
    metric stream needs where a moving MEAN would chase spikes.
    Adds ``out_col``: the continuous (interpolated) quantile of
    ``value_col`` over the trailing ``window`` rows (current row
    inclusive) within each key, ordered by ``order_col`` — the same
    R-7/linear-interpolation definition both Spark's ``percentile``
    and DuckDB's ``quantile_cont`` implement, rounded so the engines'
    float interpolation agrees.

    Scale shape (100 TB): ONE key-partitioned shuffle + sort; the
    window frame materializes at most ``window`` values per row
    (ROWS-frame state, bounded by construction — never the key's whole
    history). Parallelism is the number of keys; a single giant key
    serializes through one task like any per-key window — aggregate to
    a coarser grain first (e.g. daily) when keys are corpus-scale.
    """
    if not by:
        raise ValueError("by must name at least one key column")
    if not 0.0 <= q <= 1.0:
        raise ValueError("q must be in [0, 1]")
    if window < 1:
        raise ValueError("window must be >= 1")
    w = (
        Window.partitionBy(*by)
        .orderBy(order_col)
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    return df.withColumn(
        out_col,
        F.round(
            F.percentile(F.col(value_col).cast("double"), F.lit(float(q)))
            .over(w),
            round_to,
        ),
    )
