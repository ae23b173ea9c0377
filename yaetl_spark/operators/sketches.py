"""Mergeable sketches — approximate distincts/quantiles at 100 TB.

Beyond-ref surface (the reference has no aggregation layer at all —
SURVEY.md §2.11); these are the aggregates a curation pipeline actually
runs at scale, where exact distinct-counting would shuffle every key.

The load-bearing property is **mergeability**: a Datasketches HLL sketch
aggregated per partition-grain (per day, per shard) can be unioned later
into any coarser grain without touching raw data again. That turns "unique
users last quarter" from a 100 TB reshuffle into a merge of 90 daily
1.5 KB sketches. ``hll_rollup`` + ``hll_merge`` encode exactly that
two-level pattern with Spark's built-in ``hll_sketch_agg`` /
``hll_union_agg`` (JVM Datasketches, map-side combined, no UDFs).

Drift core: the ``summary_*`` distances use the helpers in ``stats``
(``_cdf_stage``, ``_both_sides``, ``_dsum``) that ``stats.ks_test`` and
the raw drift operators use too, so a raw and a summary statistic share
each rule. ``_rank_cut_sql`` here is the one exact weighted rank cut
``min(case when cum >= ceil(N·num/den) then v end)``, used by
:func:`summary_quantiles` and :func:`summary_psi`.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .stats import _both_sides, _cdf_stage, _dsum


def approx_distinct(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    rsd: float = 0.05,
    out: str = "approx_distinct",
) -> DataFrame:
    """Per-group approximate distinct count (HyperLogLog++, relative
    standard deviation ``rsd``). The production default where an exact
    ``count(distinct)`` would carry every key through the shuffle."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(col, rsd=rsd).alias(out)
    )


def hll_rollup(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lg_k: int = 12,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Fine-grain pass: one mergeable HLL sketch per key group.

    ``lg_k=12`` → ≤ ~1.6% error, ~2 KB per sketch. Persist this table at
    your finest reporting grain (e.g. day × source); every coarser
    report derives from it via :func:`hll_merge` — raw data is read once.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias(sketch_col)
    )


def hll_merge(
    sketches: DataFrame,
    keys: Sequence[str],
    sketch_col: str = "hll_sketch",
    estimate_col: str = "distinct_estimate",
    keep_sketch: bool = False,
) -> DataFrame:
    """Coarse-grain pass: union fine sketches up to ``keys`` and estimate.

    Input is a :func:`hll_rollup` output (or a union of several); the
    shuffle carries one ~2 KB sketch per fine group — never raw keys.
    ``keep_sketch=True`` retains the merged sketch for further rollup.
    """
    merged = sketches.groupBy(*keys).agg(
        F.hll_union_agg(F.col(sketch_col)).alias(sketch_col)
    )
    out = merged.withColumn(
        estimate_col, F.hll_sketch_estimate(F.col(sketch_col))
    )
    return out if keep_sketch else out.drop(sketch_col)


def _quantile_labels(probabilities: Sequence[float]) -> list[str]:
    """Output-column labels for the quantile family — exact and
    collision-free (shared by :func:`approx_quantiles`,
    :func:`kll_merge`, :func:`summary_quantiles`).

    The naive ``f"p{int(p * 100):02d}"`` had two defects: IEEE
    truncation mislabels valid inputs (``int(0.29 * 100) == 28`` →
    column ``p28``), and sub-percent probabilities collide (0.99 and
    0.999 both → ``p99``, silently yielding duplicate output columns).
    Labels are instead derived from the exact Decimal parse of each
    probability: whole-percent values get the classic ``p50`` form,
    sub-percent precision keeps its fractional digits after an
    underscore (``0.999`` → ``p99_9``, ``0.001`` → ``p00_1``), and any
    residual duplicate (e.g. the same probability passed twice) raises
    instead of emitting an ambiguous schema.
    """
    from decimal import Decimal

    labels = []
    for p in probabilities:
        pct = format((Decimal(str(p)) * 100).normalize(), "f")
        whole, _, frac = pct.partition(".")
        lab = f"p{int(whole):02d}"
        if frac:
            lab += f"_{frac}"
        labels.append(lab)
    dupes = sorted({l for l in labels if labels.count(l) > 1})
    if dupes:
        raise ValueError(
            f"duplicate quantile column label(s) {dupes} from "
            f"probabilities {list(probabilities)}")
    return labels


def _ceil_div_sql(x_sql: str, den_sql: str) -> str:
    """``ceil(x / den)`` for non-negative integers as a SQL fragment via
    integral ``div``: exact up to ``x ≤ int64max − den + 1`` (past that
    the pre-add overflows, which ANSI raises), with no double-rounding
    seam (Spark's ``/`` casts bigint to double, exact below 2^53)."""
    return f"div({x_sql} + {den_sql} - cast(1 as bigint), {den_sql})"


def _rank_cut_sql(cum: str, n: str, num: int, den: int, v: str) -> str:
    """The exact weighted rank cut as an aggregate SQL fragment: the
    smallest ``v`` whose cumulative weight ``cum`` reaches
    ``ceil(n·num/den)`` (:func:`_ceil_div_sql`), so ``num/den = p``
    answers the ``p`` quantile of a value-ordered weighted CDF."""
    target = _ceil_div_sql(f"{n} * {num}", f"cast({den} as bigint)")
    return f"min(case when {cum} >= {target} then {v} end)"


def _dlit(v: float) -> str:
    """A double literal for SQL fragments — the ``D`` suffix keeps the
    parser from reading ``0.5`` as DECIMAL(1,1)."""
    return f"{float(v)!r}D"


def approx_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    probabilities: Sequence[float] = (0.5, 0.9, 0.99),
    accuracy: int = 10000,
) -> DataFrame:
    """Per-group approximate percentiles (Greenwald-Khanna sketch,
    bounded memory per group) — the scale path beside the exact
    ``percentile`` oracle mode (see ``aggregates.percentiles``)."""
    labels = _quantile_labels(probabilities)
    probs = F.array(*[F.lit(float(p)) for p in probabilities])
    agg = F.percentile_approx(F.col(col), probs, F.lit(accuracy))
    # element_at over one shared agg column: the sketch is computed once
    return df.groupBy(*keys).agg(agg.alias("_q")).select(
        *keys, *[F.element_at(F.col("_q"), i + 1).alias(lab)
                 for i, lab in enumerate(labels)]
    )


def theta_rollup(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lg_k: int = 12,
    sketch_col: str = "theta_sketch",
) -> DataFrame:
    """Fine-grain pass: one mergeable Theta sketch per key group.

    Theta is the set-OPERATION sketch: unlike HLL it supports
    intersection and difference estimates after the fact
    (:func:`theta_overlap`), at ~same size (~2^lg_k hashes max). Persist
    at the finest grain; coarser grains derive via ``theta_union_agg``
    without re-reading raw data. Below ~2^lg_k distinct values the
    sketch is in exact mode — estimates are exact counts (what the
    oracle checks at test SF; production answers are approximate by
    design).
    """
    return df.groupBy(*keys).agg(
        F.theta_sketch_agg(F.col(col), F.lit(lg_k)).alias(sketch_col)
    )


def theta_overlap(
    a: DataFrame,
    b: DataFrame,
    col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-set algebra between two keyed populations without an
    exact-distinct shuffle: one row with ``n_a``, ``n_b``, ``n_union``,
    ``n_intersection``, ``n_only_a``, ``n_only_b`` — the segment-overlap
    question ("how many users in A ∩ B") answered from two ~2 KB Theta
    sketches.

    Scale shape: each side is ONE partial-aggregated reduction to a
    single sketch (the shuffle carries ≤ 2^lg_k hashes per partition,
    never raw keys); the final combine is a 1×1 cross join of two
    single-row frames. Exact below 2^lg_k distincts per side; bounded
    relative error above.
    """
    sk_a = a.groupBy().agg(F.theta_sketch_agg(F.col(col), F.lit(lg_k)).alias("_a"))
    sk_b = b.groupBy().agg(F.theta_sketch_agg(F.col(col), F.lit(lg_k)).alias("_b"))
    both = sk_a.crossJoin(sk_b)
    est = F.theta_sketch_estimate
    return both.select(
        est(F.col("_a")).cast("bigint").alias("n_a"),
        est(F.col("_b")).cast("bigint").alias("n_b"),
        est(F.theta_union(F.col("_a"), F.col("_b"))).cast("bigint").alias("n_union"),
        est(F.theta_intersection(F.col("_a"), F.col("_b"))).cast("bigint")
        .alias("n_intersection"),
        est(F.theta_difference(F.col("_a"), F.col("_b"))).cast("bigint")
        .alias("n_only_a"),
        est(F.theta_difference(F.col("_b"), F.col("_a"))).cast("bigint")
        .alias("n_only_b"),
    )


def kll_rollup(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    k: int = 200,
    sketch_col: str = "kll_sketch",
) -> DataFrame:
    """Fine-grain pass: one mergeable KLL quantile sketch (double) per
    key group — the quantile member of the sketch family beside HLL
    (distincts) and Theta (set ops). ``k=200`` → ~1.65% rank error,
    O(k·log n) bytes per sketch.

    Honesty note (unique in this module): KLL compaction is randomized,
    so estimates vary slightly across runs/partitionings WITHIN the rank
    error bound — unlike every other operator here it is NOT
    bit-deterministic and has no DuckDB oracle; use
    ``aggregates.percentiles`` for the exact/oracle mode.
    """
    return df.groupBy(*keys).agg(
        getattr(F, "kll_sketch_agg_double")(F.col(col), F.lit(k)).alias(
            sketch_col
        )
    )


def kll_merge(
    sketches: DataFrame,
    keys: Sequence[str],
    probabilities: Sequence[float] = (0.5, 0.9, 0.99),
    sketch_col: str = "kll_sketch",
    keep_sketch: bool = False,
) -> DataFrame:
    """Coarse-grain pass: merge fine KLL sketches up to ``keys`` and emit
    ``p50``-style quantile columns. The shuffle carries O(k·log n)-byte
    sketch state per fine group — never raw values — so "p99 latency last
    quarter" is a merge of per-day sketches, not a 100 TB re-read."""
    labels = _quantile_labels(probabilities)
    merged = sketches.groupBy(*keys).agg(
        getattr(F, "kll_merge_agg_double")(F.col(sketch_col)).alias(sketch_col)
    )
    qs = getattr(F, "kll_sketch_get_quantile_double")(
        F.col(sketch_col),
        F.array(*[F.lit(float(p)) for p in probabilities]),
    )
    out = merged.withColumn("_q", qs).select(
        *keys,
        *(
            [F.col(sketch_col)] if keep_sketch else []
        ),
        *[
            F.element_at(F.col("_q"), i + 1).alias(lab)
            for i, lab in enumerate(labels)
        ],
    )
    return out


def equidepth_summary(
    df: DataFrame,
    col: str,
    shard_col: str,
    buckets: int = 64,
    shard_out: str = "shard",
    bucket_out: str = "bucket",
    value_out: str = "value",
    weight_out: str = "weight",
    salt: int = 1,
    salt_key: str | Column | None = None,
) -> DataFrame:
    """Fine-grain pass of the DETERMINISTIC mergeable quantile summary
    (the oracle-checkable sibling of :func:`kll_rollup`, whose
    Datasketches compaction is randomized): per shard, the exact
    equi-depth summary — ``buckets`` weighted points where point ``b``
    is the shard's value at sorted position ``floor(b·n/B)`` (an ACTUAL
    data value, never an interpolation) and its weight is the exact
    count of ranks it covers. Weights sum to the shard's non-null row
    count exactly, which is what makes the merge
    (:func:`summary_quantiles`) exact-rank arithmetic instead of
    sketch heuristics.

    Mergeability: summaries from any shard partition of the data union
    into one table and answer any coarser-grain quantile via
    :func:`summary_quantiles` without re-reading raw data — per-day
    summaries roll up to quarter-level p99 the same way
    :func:`hll_rollup` rolls up distincts. Rank error of a merged
    estimate is bounded by ``Σ_s ceil(n_s/B)`` (≈ N/B + #shards) —
    choose ``buckets`` for the target grain, e.g. B=200 → ~0.5% rank
    error, matching KLL's regime while staying bit-deterministic
    across reruns, partitionings, and engines (rank→bucket uses exact
    integer arithmetic; the points are raw column values).

    Scale shape (100 TB): ONE shuffle — the per-shard sort window;
    the (shard, bucket) aggregate reuses the same exchange
    (hashpartitioning on the shard satisfies the grouping), so the
    output is |shards|·B rows off a single corpus pass. A
    pathologically hot shard serializes its sort through one task
    (the :func:`~yaetl_spark.operators.curation.cap_per_group`
    caveat) — the fix is the ``salt`` parameter: ``salt=k`` with a
    stable per-row ``salt_key`` (e.g. the document id) splits every
    shard's sort across k sub-shards (``pmod(xxhash64(key), k)``)
    while the OUTPUT keeps the original shard name — sub-shard
    summaries are just more summary rows under the same shard, and
    every merge (:func:`summary_quantiles`, the drift family) is
    exact weighted-rank arithmetic over (value, weight), so salting
    loses nothing: weights still sum to the shard's exact row count
    and the rank-error bound simply counts k·|shards| sub-shards
    (choose B per sub-shard accordingly). Bucket ids are made unique
    per (shard, sub-shard) as ``salt_idx·B + b``; the salted summary
    stays deterministic across reruns and partitionings (xxhash64 is
    a pure key function), though its ROW composition is Spark-hash-
    specific — merged answers remain engine-checkable as always.
    """
    from pyspark.sql.window import Window

    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    if salt < 1:
        raise ValueError("salt must be >= 1")
    if salt > 1 and salt_key is None:
        raise ValueError(
            "salt > 1 needs a stable per-row salt_key (e.g. the id "
            "column) to split hot shards deterministically")
    v = F.col(col)
    cols = [F.col(shard_col).alias("_eq_s"), v.alias("_eq_v")]
    part = ["_eq_s"]
    if salt > 1:
        k = F.col(salt_key) if isinstance(salt_key, str) else salt_key
        cols.append(
            F.pmod(F.xxhash64(k), F.lit(salt)).cast("bigint")
            .alias("_eq_salt"))
        part.append("_eq_salt")
    src = df.filter(v.isNotNull()).select(*cols)
    # window + bucket expressions as one-shot parses (stats._dsum_sql
    # note) — same frames and arithmetic
    pby = "partition by " + ", ".join(part)
    staged = src.select(
        *part,
        "_eq_v",
        F.expr(f"cast(row_number() over ({pby} order by _eq_v asc) "
               "as bigint) as _eq_rn"),
        F.expr(f"count(1) over ({pby} order by _eq_v asc rows between "
               "unbounded preceding and unbounded following) as _eq_n"),
    )
    # bucket = ceil(rn·B / n) via EXACT integer arithmetic (true
    # integral division — exact over the whole int64 range; the
    # double-division shortcut can straddle a ceil boundary by one ulp
    # and silently disagree with the SQL oracle's integer division,
    # and even the (x − x mod n)/n form only held below 2^53)
    b = F.expr(_ceil_div_sql(f"_eq_rn * {buckets}", "_eq_n"))
    out_bucket = (
        F.col("_eq_b") if salt == 1
        else F.expr(f"_eq_salt * {buckets} + _eq_b")
    )
    return (
        staged.withColumn("_eq_b", b)
        .groupBy(*part, "_eq_b")
        .agg(
            F.expr("max_by(_eq_v, _eq_rn)").alias(value_out),
            F.expr("cast(count(1) as bigint)").alias(weight_out),
        )
        .select(
            F.col("_eq_s").alias(shard_out),
            out_bucket.alias(bucket_out),
            value_out,
            weight_out,
        )
    )


def summary_quantiles(
    summaries: DataFrame,
    probabilities: Sequence[float] = (0.5, 0.9, 0.99),
    keys: Sequence[str] = (),
    value_col: str = "value",
    weight_col: str = "weight",
    order_cols: Sequence[str] = ("shard", "bucket"),
    n_col: str = "n_rows",
) -> DataFrame:
    """Merge pass of the deterministic quantile summary: take a UNION
    of :func:`equidepth_summary` outputs (any mix of shards / days /
    sources) and answer quantiles per coarse ``keys`` group (or
    globally) by exact weighted-rank arithmetic — order the summary
    points by value, cumulate their weights, and report the first
    point whose cumulative weight reaches ``ceil(p·N)``. The shuffle
    carries |shards|·B summary rows, never raw values: "p99 last
    quarter" is a merge of per-day summaries, not a re-read.

    Bit-deterministic end to end: probabilities are parsed as DECIMAL
    literals (``0.99`` → 99/100) and the target rank is computed in
    exact integer arithmetic, so there is no float-rounding seam
    between engines; the reported values are raw data values carried
    through the summary. Quantile columns are named ``p50``-style
    (the :func:`approx_quantiles` convention; sub-percent precision
    keeps its digits — ``0.999`` → ``p99_9`` — and duplicate labels
    raise, see :func:`_quantile_labels`); ``p=0`` answers the
    minimum, ``p=1`` the maximum.
    """
    from decimal import Decimal

    from pyspark.sql.window import Window

    keys = list(keys)
    fracs = []
    for p in probabilities:
        if not 0.0 <= p <= 1.0:
            raise ValueError("probabilities must be in [0, 1]")
        d = Decimal(str(p))
        exp = -d.as_tuple().exponent
        den = 10 ** max(exp, 0)
        if den > 1000:
            # keeps N·num inside int64 for any N below ~9.2e15 rows
            # (int64 max / 1000); a finer probability than 1/1000 needs
            # a bigger summary (B >> 1000) to be meaningful anyway
            raise ValueError(
                f"probability {p} needs denominator {den} > 1000: use "
                "at most 3 decimal places")
        fracs.append((int(d * den), den))
    labels = _quantile_labels(probabilities)
    v = F.col(value_col)
    wgt = F.col(weight_col).cast("bigint")
    order = [v.asc()] + [
        F.col(c).asc() for c in order_cols
        if c in summaries.columns and c not in keys
    ]
    part = [F.col(k) for k in keys]
    wcum = (
        Window.partitionBy(*part).orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*part)
    base = summaries.select(
        *keys,
        v.alias("_sq_v"),
        F.sum(wgt).over(wcum).alias("_sq_cum"),
        F.sum(wgt).over(wtot).alias("_sq_n"),
    )
    # N·num stays inside int64 for den ≤ 10^3 up to ~9.2e15 rows — far
    # past any corpus; one parse per probability instead of ~15 Column
    # calls
    aggs = [F.max("_sq_n").alias(n_col)] + [
        F.expr(f"{_rank_cut_sql('_sq_cum', '_sq_n', num, den, '_sq_v')} "
               f"as `{lab}`")
        for lab, (num, den) in zip(labels, fracs)
    ]
    return base.groupBy(*keys).agg(*aggs)


def summary_w1_distance(
    a: DataFrame,
    b: DataFrame,
    value_col: str = "value",
    weight_col: str = "weight",
    out_col: str = "w1_distance",
    round_to: int = 9,
    keys: Sequence[str] = (),
) -> DataFrame:
    """1-Wasserstein (earth-mover) distance between two weighted
    :func:`equidepth_summary` tables — distribution drift WITHOUT
    re-reading raw data: ``W1 = ∫|F_a(x) − F_b(x)| dx`` evaluated
    exactly over the merged summary breakpoints (both empirical CDFs
    are step functions there). Where the KS battery
    (:func:`~yaetl_spark.operators.stats.ks_test`) re-aggregates raw
    columns per comparison, this compares any two PERSISTED summary
    grains — yesterday vs today, source vs source — at
    |summary|-sized cost, the same persist-once/compare-many pattern
    as :func:`hll_rollup`. NOTE the inputs are rank summaries, so the
    answer is W1 of the summarized distributions; it converges to the
    raw W1 as B grows (value error ≤ one within-bucket value gap per
    side).

    Deterministic like the rest of the family: one value-ordered
    cumulative window over the unioned summary rows, per-interval
    terms ``|F_a − F_b|·Δx`` rounded to ``round_to`` and summed as
    DECIMAL(38,*) — order-independent, engine-reproducible. Returns
    ONE row ``(n_a, n_b, w1_distance)``; NULL distance when either
    side is empty. With ``keys`` (both summary tables must carry
    them): one row per key group — the "which SOURCE drifted?" form;
    a key present on only one side reports NULL.

    Scale shape: both inputs are |shards|·B-row summaries, so the
    union, the (keys-partitioned) window, and the aggregate are all
    summary-sized — negligible next to the fine passes that produced
    them.
    """
    keys = list(keys)
    staged = _cdf_stage(a, b, F.col(value_col), F.col(weight_col), keys)
    # per-interval |F_a - F_b| * dx, rounded then summed as DECIMAL so
    # the float fold is order-independent (the stats.py convention);
    # the last breakpoint has no interval (lead NULL -> term NULL, the
    # sum skips it) and an empty side has a NULL gap
    term = F.expr("_cdf_gap * (_cdf_next - _cdf_v)")
    n_a, n_b = F.max("_cdf_na"), F.max("_cdf_nb")
    # zero intervals (all mass at one point) -> distance 0 when both
    # sides are present
    return staged.groupBy(*keys).agg(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        _both_sides(n_a, n_b, F.coalesce(_dsum(term, round_to), F.lit(0.0)))
        .alias(out_col),
    )


def summary_ks_distance(
    a: DataFrame,
    b: DataFrame,
    value_col: str = "value",
    weight_col: str = "weight",
    out_col: str = "ks_stat",
    round_to: int = 9,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Kolmogorov-Smirnov statistic between two weighted
    :func:`equidepth_summary` tables — the sup-gap sibling of
    :func:`summary_w1_distance`: ``D = max_x |F_a(x) − F_b(x)|``
    evaluated at every merged summary breakpoint (both empirical CDFs
    are right-continuous step functions, so the sup over x is attained
    at a breakpoint). Completes the persisted-summary drift family:
    where :func:`~yaetl_spark.operators.stats.ks_test` re-aggregates
    two RAW columns per comparison, this compares any two persisted
    grains at |summary|-sized cost. NOTE the inputs are rank
    summaries, so D is the KS of the summarized distributions; it
    converges to the raw D as B grows (rank resolution ≤ ceil(n_s/B)
    per shard on each side).

    Deterministic like W1: per-breakpoint gaps are rounded to
    ``round_to`` before the max — order-independent and
    engine-reproducible (max needs no DECIMAL re-sum; it is already
    order-free). Returns ONE row ``(n_a, n_b, ks_stat)``; NULL when
    either side is empty. With ``keys``: one row per key group, NULL
    for keys present on only one side.

    Scale shape: identical to :func:`summary_w1_distance` — the union,
    the (keys-partitioned) window, and the aggregate are all
    summary-sized (shared staging, ``stats._cdf_stage``).
    """
    keys = list(keys)
    # every breakpoint is a valid evaluation point (no lead/next
    # needed: the gap is constant on [v, next) and attained AT v); an
    # empty side's NULL gaps leave a NULL max
    staged = _cdf_stage(a, b, F.col(value_col), F.col(weight_col), keys)
    return staged.groupBy(*keys).agg(
        F.max("_cdf_na").alias("n_a"),
        F.max("_cdf_nb").alias("n_b"),
        F.max(F.round("_cdf_gap", round_to)).alias(out_col),
    )


def summary_psi(
    a: DataFrame,
    b: DataFrame,
    bins: int = 10,
    value_col: str = "value",
    weight_col: str = "weight",
    out_col: str = "psi",
    round_to: int = 9,
    laplace: float = 0.5,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Population Stability Index between two weighted
    :func:`equidepth_summary` tables — the industry-standard drift
    score on the persisted-summary pattern, completing the family
    beside :func:`summary_w1_distance` (magnitude in value units) and
    :func:`summary_ks_distance` (worst single gap):
    ``PSI = Σ_bins (p_a − p_b)·ln(p_a / p_b)``.

    Bins are the REFERENCE side's quantile cuts at mass ``i/bins``
    (deciles by default) — the textbook PSI binning, which equi-depth
    summaries answer natively via the same exact weighted-rank
    arithmetic as :func:`summary_quantiles`; side ``a`` is the
    reference. Bin masses get Laplace smoothing ``laplace`` (> 0
    required) so empty bins never reach ``ln(0)`` — the usual PSI
    practice for sparse cells; PSI is symmetric in (a, b) given the
    same cuts, and heavy ties that collapse adjacent cuts simply
    leave smoothed-empty bins. Interpretation anchors (industry rule
    of thumb): < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 action.

    Deterministic like the siblings: cuts from exact integral-division
    rank targets, integer bin masses, per-bin terms rounded to
    ``round_to`` then summed as DECIMAL (order-independent,
    engine-reproducible). Returns ONE row ``(n_a, n_b, psi)``; NULL
    when either side is empty. With ``keys``: one row per key group
    with that group's own reference cuts, NULL for keys present on
    only one side. NOTE the inputs are rank summaries, so this is the
    PSI of the summarized distributions; it converges to the raw PSI
    as B grows.

    Scale shape: identical to the siblings — staging, the one-row cut
    aggregate, the broadcast bin assignment, and the ``bins``-row
    spine are all summary-sized (``stats._cdf_stage``).
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if not laplace > 0:
        raise ValueError(
            "laplace must be > 0 (smoothing keeps empty bins out of "
            "ln(0) — pass e.g. 0.5)")
    keys = list(keys)
    staged = _cdf_stage(a, b, F.col(value_col), F.col(weight_col), keys)
    # one aggregate row per key group: both totals + the bins-1
    # reference cuts (the summary_quantiles rank cut at p = i/bins over
    # side a's CDF), one parse per cut
    cuts = staged.groupBy(*keys).agg(
        F.max("_cdf_na").alias("_psi_na"),
        F.max("_cdf_nb").alias("_psi_nb"),
        *[F.expr(f"{_rank_cut_sql('_cdf_ca', '_cdf_na', i, bins, '_cdf_v')}"
                 f" as _psi_e{i}") for i in range(1, bins)],
    )
    edges = ", ".join(f"_psi_e{i}" for i in range(1, bins))
    # bin(v) = 1 + #cuts strictly below v — broadcast of the
    # one-row-per-key cuts
    pts = staged.select(*keys, "_cdf_v", "_cdf_wa", "_cdf_wb")
    joined = (
        pts.join(F.broadcast(cuts), keys) if keys
        else pts.crossJoin(F.broadcast(cuts))
    )
    binned = joined.select(
        *keys,
        "_cdf_wa",
        "_cdf_wb",
        F.expr(
            f"1 + size(filter(array({edges}), "
            "e -> e is not null and _cdf_v > e)) as _psi_bin"),
    )
    masses = binned.groupBy(*keys, "_psi_bin").agg(
        F.sum("_cdf_wa").alias("_psi_ma"),
        F.sum("_cdf_wb").alias("_psi_mb"),
    )
    # full bin spine: a zero-mass bin still contributes its smoothed
    # term (the sides' smoothed floors differ when n_a != n_b)
    spine = cuts.select(
        *keys,
        F.explode(F.sequence(F.lit(1), F.lit(bins))).alias("_psi_bin"),
        "_psi_na",
        "_psi_nb",
    )
    full = spine.join(masses, [*keys, "_psi_bin"], "left").select(
        *keys,
        "_psi_na",
        "_psi_nb",
        F.coalesce(F.col("_psi_ma"), F.lit(0)).cast("bigint").alias("_psi_ma"),
        F.coalesce(F.col("_psi_mb"), F.lit(0)).cast("bigint").alias("_psi_mb"),
    )
    lap = _dlit(laplace)
    pa = (f"((cast(_psi_ma as double) + {lap}) / "
          f"(cast(_psi_na as double) + {lap} * {_dlit(bins)}))")
    pb = (f"((cast(_psi_mb as double) + {lap}) / "
          f"(cast(_psi_nb as double) + {lap} * {_dlit(bins)}))")
    na, nb = F.col("_psi_na"), F.col("_psi_nb")
    term = _both_sides(na, nb, F.expr(f"({pa} - {pb}) * ln({pa} / {pb})"))
    return full.groupBy(*keys).agg(
        F.max(na).alias("n_a"),
        F.max(nb).alias("n_b"),
        _dsum(term, round_to).alias(out_col),
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    support: float = 0.001,
    out_value: str = "value",
    out_count: str = "n",
) -> DataFrame:
    """EXACT frequent items at sketch cost: every value of ``col`` whose
    frequency is at least ``support`` of the (non-null) rows, with its
    exact count — via the classic two-pass candidate/verify pattern.

    Pass 1 runs Spark's built-in Misra-Gries summary
    (``DataFrame.freqItems`` — single scan, per-partition O(1/support)
    state, merged on the driver). Misra-Gries guarantees NO FALSE
    NEGATIVES above the support threshold, so the candidate list (at most
    ~1/support values — a bounded driver artifact) provably contains
    every true heavy hitter. Pass 2 makes the answer exact: one more
    scan that broadcast-joins the candidate list, counts ONLY candidate
    keys (everything else collapses into a single null bucket that still
    feeds the total), and keeps counts ≥ ``ceil(support * total)``.

    Why this beats a plain groupBy at 100 TB: an exact
    ``groupBy(col).count()`` shuffles EVERY distinct key — at web scale
    that's billions of groups for a handful of answers. Here the shuffle
    after pass 2's map side carries at most ``~1/support + 1`` groups,
    and the false positives Misra-Gries may add are filtered by the
    exact threshold, so the result is deterministic and oracle-equal to
    the full exact query.
    """
    if not 0.0 < support < 1.0:
        raise ValueError("support must be in (0, 1)")
    if support < 2e-4:
        # freqItems floors its support at 1e-4; below 2e-4 the halved
        # candidate pass can't keep the no-false-negative guarantee
        raise ValueError("support must be >= 2e-4 (freqItems floor)")
    c = F.col(col)
    src = df.select(c).filter(c.isNotNull())
    # candidate pass at support/2: Misra-Gries only guarantees items with
    # count STRICTLY GREATER than support*n, so an item sitting exactly
    # on the ceil(support*total) threshold could be missed at full
    # support; halving keeps every verified item provably in the list
    # (count >= ceil(s*n) > s*n/2) at the cost of a 2x candidate bound
    cands = src.freqItems([col], max(support / 2, 1e-4)).collect()[0][0]
    spark = df.sparkSession
    cand_df = spark.createDataFrame(
        [(v,) for v in cands], schema=src.schema
    ).withColumn("_hit", F.lit(True))
    # pinned (compute_once): the candidate-bounded count table feeds
    # BOTH the total (broadcast leg) and the threshold filter — unpinned,
    # the exact verify scan over the corpus ran once per leg
    from ..session import compute_once

    counts = compute_once(
        src.join(F.broadcast(cand_df), col, "left")
        .select(F.when(F.col("_hit"), c).alias("_k"))
        .groupBy("_k")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    total = counts.agg(F.sum("_n").alias("_total"))
    thr = F.ceil(F.lit(float(support)) * F.col("_total")).cast("bigint")
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("_k").isNotNull() & (F.col("_n") >= thr))
        .select(
            F.col("_k").alias(out_value),
            F.col("_n").cast("bigint").alias(out_count),
        )
    )
