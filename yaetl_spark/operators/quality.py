"""Declarative data-quality validation and classifier-eval metrics.

Beyond-reference surface (the reference validates row-by-row through
qualifiers — ``src/Qualifiers/CallableQualifier.php`` — and has no
dataset-level quality gate at all): this module adds the two batteries a
100 TB training-data pipeline runs before and after every curation stage:

- ``validate`` — a Deequ-style declarative check suite (Schelter et al.,
  "Automating Large-Scale Data Quality Verification", VLDB 2018):
  completeness / uniqueness / set-membership / pattern / bounds checks,
  all folded into ONE aggregation pass over the scan.
- ``binary_classifier_eval`` — exact ROC-AUC via the Mann-Whitney
  rank-sum identity, computed from a per-score aggregate (never a
  per-row global sort), plus ``calibration_bins`` (reliability-diagram
  bins feeding ECE) for the quality-classifier scores that gate corpus
  admission (GPT-3/Pile-style quality filtering).

Scale shape (100 TB):

- ``validate`` is a single partial-aggregated scan — every ratio check
  is a conditional sum combined map-side; the only shuffle is the 1-row
  aggregate exchange. ``uniqueness`` adds one distinct-aggregate (a
  shuffle on the checked key); pass ``approx=True`` to replace it with
  HLL ``approx_count_distinct`` and keep the pass shuffle-free.
- ``binary_classifier_eval`` aggregates to (score → pos/neg counts)
  FIRST, then runs the cumulative window over that aggregate. With
  quantized scores (``round_scores``, default 6) the aggregate is
  bounded by score cardinality, not row count — the window never sees
  the raw table. Tied scores get the exact average-rank treatment.
- ``calibration_bins`` is one groupBy on a computed bin — pure
  partial-agg, no skew (bins are bounded).

Determinism: counts are integers; every float mean rides the repo's
absorb-the-ulps pattern (terms rounded to 9 decimals, accumulated as
DECIMAL(38,9) — exact and order-independent — final op in floats,
rounded to 6) so results hash-match the DuckDB oracle and reruns.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .stats import _DEC, _dsum

__all__ = [
    "Check",
    "between",
    "binary_classifier_eval",
    "calibration_bins",
    "cohens_kappa",
    "completeness",
    "fk_integrity",
    "in_set",
    "matches",
    "max_value",
    "min_value",
    "uniqueness",
    "validate",
]


@dataclass(frozen=True)
class Check:
    """One declarative expectation.

    ``kind`` picks the metric; ``threshold`` is the pass bound. For
    ratio metrics (completeness/uniqueness/in_set/matches/between) the
    check passes when ``metric >= threshold``; for ``min_value`` /
    ``max_value`` it passes when the observed extreme respects the
    bound (``observed >= threshold`` / ``observed <= threshold``).
    """

    name: str
    kind: str
    column: str
    threshold: float
    params: tuple = field(default_factory=tuple)


def completeness(column: str, threshold: float = 1.0) -> Check:
    """Fraction of rows with a non-null ``column``."""
    return Check(f"completeness({column})", "completeness", column, threshold)


def uniqueness(column: str, threshold: float = 1.0) -> Check:
    """distinct(column) / count(rows). 1.0 means a unique key."""
    return Check(f"uniqueness({column})", "uniqueness", column, threshold)


def in_set(column: str, values: Sequence[str], threshold: float = 1.0) -> Check:
    """Fraction of NON-NULL values that are members of ``values``."""
    return Check(
        f"in_set({column})", "in_set", column, threshold, tuple(values)
    )


def matches(column: str, regex: str, threshold: float = 1.0) -> Check:
    """Fraction of NON-NULL values matching ``regex`` (unanchored —
    anchor explicitly, Spark ``rlike`` and DuckDB ``regexp_matches``
    are both search-style)."""
    return Check(f"matches({column})", "matches", column, threshold, (regex,))


def between(
    column: str, lo: float, hi: float, threshold: float = 1.0
) -> Check:
    """Fraction of NON-NULL values inside [lo, hi]."""
    return Check(f"between({column})", "between", column, threshold, (lo, hi))


def min_value(column: str, bound: float) -> Check:
    """Observed min must be >= bound."""
    return Check(f"min_value({column})", "min_value", column, bound)


def max_value(column: str, bound: float) -> Check:
    """Observed max must be <= bound."""
    return Check(f"max_value({column})", "max_value", column, bound)


def _metric_expr(c: Check, approx: bool) -> Column:
    col = F.col(c.column)
    n = F.count(F.lit(1))
    nn = F.count(col)
    if c.kind == "completeness":
        return nn / n
    if c.kind == "uniqueness":
        d = (
            F.approx_count_distinct(col)
            if approx
            else F.count_distinct(col)
        )
        return d / n
    if c.kind == "in_set":
        return F.count(F.when(col.isin(*c.params), 1)) / nn
    if c.kind == "matches":
        return F.count(F.when(col.rlike(c.params[0]), 1)) / nn
    if c.kind == "between":
        lo, hi = c.params
        return F.count(F.when(col.between(lo, hi), 1)) / nn
    if c.kind == "min_value":
        return F.min(col).cast("double")
    if c.kind == "max_value":
        return F.max(col).cast("double")
    raise ValueError(f"unknown check kind {c.kind!r}")


def validate(
    df: DataFrame, checks: Sequence[Check], approx: bool = False
) -> DataFrame:
    """Run every check in ONE aggregation pass.

    Returns ``(check, column, metric, value, threshold, passed)`` — one
    row per check, ordered by check name. ``value`` is rounded to 6
    decimals; ``passed`` compares the UNROUNDED metric so a 0.9999996
    completeness does not spuriously pass a 1.0 threshold by rounding.

    ``approx=True`` swaps exact ``count_distinct`` for HLL
    ``approx_count_distinct`` in uniqueness checks — the 100 TB mode
    (no distinct shuffle; ~2 % relative error).
    """
    if not checks:
        raise ValueError("validate() needs at least one Check")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError("duplicate check names")
    aggs = []
    for i, c in enumerate(checks):
        aggs.append(_metric_expr(c, approx).alias(f"_m{i}"))
    row = df.agg(*aggs)
    structs = []
    for i, c in enumerate(checks):
        m = F.col(f"_m{i}")
        if c.kind == "min_value":
            ok = m >= F.lit(float(c.threshold))
        elif c.kind == "max_value":
            ok = m <= F.lit(float(c.threshold))
        else:
            ok = m >= F.lit(float(c.threshold))
        structs.append(
            F.struct(
                F.lit(c.name).alias("check"),
                F.lit(c.column).alias("column"),
                F.lit(c.kind).alias("metric"),
                F.round(m, 6).alias("value"),
                F.lit(float(c.threshold)).alias("threshold"),
                F.coalesce(ok, F.lit(False)).alias("passed"),
            )
        )
    return (
        row.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
        .orderBy("check")
    )


def binary_classifier_eval(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_scores: int | None = 6,
) -> DataFrame:
    """Exact ROC-AUC via Mann-Whitney, from a per-score aggregate.

    ``label_col`` must be 0/1. Returns one row
    ``(n, n_pos, n_neg, auc)``.

    Identity: with rows ranked ascending by score (ties → average
    rank), ``AUC = (Σ_{pos} rank − n_pos(n_pos+1)/2) / (n_pos·n_neg)``
    (Mann & Whitney 1947; Hanley & McNeil 1982). A tied score group of
    size ``c`` starting after ``Cb`` cumulative rows contributes
    ``pos_in_group · (Cb + (c+1)/2)`` to the positive rank sum — so the
    whole statistic needs only (score → pos, neg) counts plus ONE
    cumulative window over that aggregate, never per-row ranks.

    Scale shape: groupBy(score) is a partial-agg shuffle bounded by
    score cardinality (``round_scores``, default 6, quantizes to at
    most ~2·10⁶ distinct scores per score UNIT; ``None`` ranks raw
    scores). The cumulative count is TWO-LEVEL: per-unit-bucket partial
    sums (the only single-partition window, over the OBSERVED
    integer-unit buckets — i.e. min(score range, distinct scores)
    rows; raw scores spread one-per-unit degenerate back to a
    per-score-sized window, which is why ``round_scores`` defaults
    on) plus a
    ``partitionBy(bucket)`` within-bucket window that runs parallel —
    so wide-range raw scores never funnel the full per-score aggregate
    through one partition. Rank sums stay exact in DECIMAL(38,9) (max
    rank·n ≈ 10¹⁸ at 10⁹ rows — inside the 29 integer digits).
    """
    s = F.col(score_col).cast("double")
    if round_scores is not None:
        s = F.round(s, round_scores)
    lbl = F.col(label_col).cast("bigint")
    grp = (
        df.where(s.isNotNull() & lbl.isNotNull())
        .groupBy(s.alias("_s"))
        .agg(
            F.sum(lbl).alias("_pos"),
            F.count(F.lit(1)).alias("_c"),
        )
    )
    from pyspark.sql import Window

    # two-level cumulative count (Cb = rows strictly below the group):
    # level 1 — integer-unit bucket totals, cumulated in the one
    # single-partition window (|buckets| = score range, tiny);
    # level 2 — within-bucket running sum, PARTITIONED by bucket (the
    # bucket equi join reuses the same hash partitioning as the
    # window's shuffle). Exact bigint arithmetic at both levels.
    # the bucket key only needs to be a DETERMINISTIC MONOTONE coarse
    # function of the score (within-bucket ordering by _s does the
    # rest), so saturate before floor(): floor(double) returns LONG and
    # a score beyond ±2^63 would overflow — an ANSI session (the driver
    # may hand us one) turns that into a throw
    _sat = F.greatest(
        F.least(F.col("_s"), F.lit(9.0e18)), F.lit(-9.0e18)
    )
    grp = grp.withColumn("_bkt", F.floor(_sat))
    wb = (
        Window.orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bkt_off = (
        grp.groupBy("_bkt")
        .agg(F.sum("_c").alias("_bc"))
        .select(
            "_bkt",
            (F.sum("_bc").over(wb) - F.col("_bc")).alias("_boff"),
        )
    )
    ww = (
        Window.partitionBy("_bkt")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    contrib = grp.join(bkt_off, "_bkt").select(
        "_pos",
        "_c",
        (
            F.col("_boff") + F.sum("_c").over(ww) - F.col("_c")
        ).alias("_cb"),
    ).select(
        F.col("_pos"),
        F.col("_c"),
        # pos·(Cb + (c+1)/2); ×2 to keep it integral, halved at the end
        (
            F.col("_pos")
            * (F.lit(2) * F.col("_cb") + F.col("_c") + F.lit(1))
        ).alias("_r2"),
    )
    agg = contrib.agg(
        F.sum(F.col("_pos")).alias("n_pos"),
        F.sum(F.col("_c")).alias("n"),
        F.sum(F.col("_r2").cast(_DEC)).alias("_r2sum"),
    )
    n_pos = F.col("n_pos")
    n_neg = (F.col("n") - n_pos).cast("bigint").alias("n_neg")
    auc = F.when(
        (n_pos > 0) & (F.col("n") - n_pos > 0),
        F.round(
            (
                F.col("_r2sum").cast("double") / 2.0
                - n_pos.cast("double") * (n_pos + 1).cast("double") / 2.0
            )
            / (n_pos.cast("double") * (F.col("n") - n_pos).cast("double")),
            6,
        ),
    ).alias("auc")
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        n_pos.cast("bigint").alias("n_pos"),
        n_neg,
        auc,
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Reliability-diagram bins for a probability-like score.

    Buckets ``score_col`` into ``n_bins`` equal-width bins over
    [lo, hi] (out-of-range scores clamp into the edge bins — same
    policy as operators/aggregates.py equi-width histograms) and
    reports per bin: ``n``, ``mean_score``, ``frac_pos`` and the
    calibration ``gap`` (mean_score − frac_pos, the per-bin ECE term;
    Naeini et al. 2015). One groupBy on a computed bin — pure
    partial-agg, bin count bounded by ``n_bins``.
    """
    if hi <= lo:
        raise ValueError("hi must be > lo")
    s = F.col(score_col).cast("double")
    lbl = F.col(label_col).cast("bigint")
    width = (hi - lo) / n_bins
    raw = F.floor((s - F.lit(lo)) / F.lit(width)).cast("int")
    b = F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw))
    out = (
        df.where(s.isNotNull() & lbl.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(s).alias("_ssum"),
            F.sum(lbl).alias("_pos"),
        )
        .select(
            "bin",
            "n",
            F.round(F.col("_ssum") / F.col("n"), 6).alias("mean_score"),
            F.round(
                F.col("_pos").cast("double") / F.col("n"), 6
            ).alias("frac_pos"),
            F.round(
                F.col("_ssum") / F.col("n")
                - F.col("_pos").cast("double") / F.col("n"),
                6,
            ).alias("gap"),
        )
        .orderBy("bin")
    )
    return out


def cohens_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_to: int = 6,
    max_classes: int = 1000,
) -> DataFrame:
    """Inter-rater agreement between two categorical columns (Cohen
    1960): ``κ = (p_o − p_e) / (1 − p_e)`` with ``p_o`` the observed
    agreement fraction and ``p_e`` the chance agreement implied by the
    two raters' marginals — the standard audit for label quality
    (annotator vs annotator, heuristic classifier vs heuristic
    classifier) before a label column is trusted for training. Returns
    ONE row ``(n, po, pe, kappa)``, rounded; ``kappa`` is NULL when
    ``p_e = 1`` (both raters constant — agreement is undefined, and
    the guarded branch also keeps an ANSI session from throwing on the
    0/0). Rows where either column is NULL are excluded from ``n``.

    Scale shape (100 TB): the corpus is scanned ONCE — one partial-agg
    shuffle to the contingency table (bounded by |classes|², never
    corpus rows), which then collapses into a single array row; the
    totals, marginals and the Σ n_a(c)·n_b(c) chance term are all
    higher-order-function folds over that array (a naive
    branch-per-marginal formulation re-scans the corpus three times —
    Catalyst does not reuse the contingency exchange across differing
    aggregate branches). ``max_classes`` is the in-plan cardinality
    guard (the ``max_cell_rows`` discipline): kappa over an
    accidentally-high-cardinality pair (two ID columns) would
    materialize |classes|² cells in one row — fail LOUD naming the
    count instead.
    """
    ct = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(
            F.col(col_a).cast("string").alias("_ca"),
            F.col(col_b).cast("string").alias("_cb"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    one = ct.agg(
        F.collect_list(F.struct("_ca", "_cb", "_n")).alias("_cells")
    )
    zero = F.lit(0).cast("bigint")
    cells = F.col("_cells")
    classes = F.array_distinct(
        F.concat(
            F.transform(cells, lambda x: x["_ca"]),
            F.transform(cells, lambda x: x["_cb"]),
        )
    )
    guarded = F.when(
        F.size(classes) <= F.lit(int(max_classes)), cells
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("cohens_kappa: "), F.size(classes).cast("string"),
            F.lit(f" distinct classes (> max_classes={max_classes}) — "
                  "these columns look like identifiers, not labels; "
                  "raise max_classes only if the |classes|^2 "
                  "contingency genuinely fits one task"),
        ))
    )

    def _fold(arr, term):
        return F.aggregate(arr, zero, lambda acc, x: acc + term(x))

    one = one.select(
        _fold(guarded, lambda x: x["_n"]).alias("_tot"),
        _fold(
            cells,
            lambda x: F.when(x["_ca"] == x["_cb"], x["_n"]).otherwise(zero),
        ).alias("_agree"),
        F.aggregate(
            F.transform(
                classes,
                lambda cls: _fold(
                    cells,
                    lambda x: F.when(x["_ca"] == cls, x["_n"])
                    .otherwise(zero),
                ) * _fold(
                    cells,
                    lambda x: F.when(x["_cb"] == cls, x["_n"])
                    .otherwise(zero),
                ),
            ),
            zero,
            lambda acc, x: acc + x,
        ).alias("_cross"),
    )
    po = F.col("_agree").cast("double") / F.col("_tot")
    pe = F.col("_cross").cast("double") / (F.col("_tot") * F.col("_tot"))
    return one.filter(F.col("_tot") > 0).select(
        F.col("_tot").cast("bigint").alias("n"),
        F.round(po, round_to).alias("po"),
        F.round(pe, round_to).alias("pe"),
        F.round(
            F.when(pe != 1.0, (po - pe) / (F.lit(1.0) - pe)),
            round_to,
        ).alias("kappa"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    label_col: str,
    round_to: int = 6,
    max_classes: int = 1000,
) -> DataFrame:
    """Multi-rater inter-annotator agreement (Fleiss 1971) — the
    N-rater generalization of :func:`cohens_kappa`: ``df`` holds one
    row per rating event ``(item, label)`` (the rater's identity is
    irrelevant to the statistic; only per-item label counts matter),
    every item must carry the same number of ratings ``r ≥ 2``
    (classic Fleiss — enforced in-plan, fail LOUD on ragged panels).
    Returns ONE row ``(n_items, n_raters, n_categories, p_bar, p_e,
    kappa)``: ``p_bar`` the mean per-item agreement
    ``P_i = (Σ_j n_ij² − r) / (r(r−1))``, ``p_e`` the chance term
    ``Σ_j p_j²`` from the pooled label marginals, ``kappa =
    (p_bar − p_e)/(1 − p_e)`` (NULL when ``p_e = 1`` — a constant
    panel has undefined agreement, and the guard keeps an ANSI
    session from throwing on the 0/0).

    Scale shape (100 TB): ONE corpus-scan shuffle to the
    ``(item, label)`` count table; the per-item and per-label
    reductions both consume that same aggregate (identical subtree →
    Catalyst's ReuseExchange runs the big shuffle once), the per-item
    side collapses through a partial-agg ``groupBy(item)``, and the
    per-label side is ``|labels|`` rows gathered into a single array
    guarded by ``max_classes`` (the ``cohens_kappa`` discipline — an
    ID column posing as a label would otherwise collect unbounded).
    All moments stay integral until the final three divisions:
    ``Σ n_ij²`` fits BIGINT (``≤ N·r²``), label marginal squares go
    through DECIMAL(38,0) (``m_j ≤ N·r ≈ 10¹⁰`` squares past 2⁶³).
    """
    rated = df.filter(
        F.col(item_col).isNotNull() & F.col(label_col).isNotNull()
    )
    nij = rated.groupBy(
        F.col(item_col).alias("_it"),
        F.col(label_col).cast("string").alias("_lb"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    # per-item moments: r_i (ratings) and Σ_j n_ij²
    items = nij.groupBy("_it").agg(
        F.sum("_n").alias("_r"),
        F.sum(F.col("_n") * F.col("_n")).alias("_s2"),
    )
    istats = items.agg(
        F.count(F.lit(1)).alias("_ni"),
        F.min("_r").alias("_rmin"),
        F.max("_r").alias("_rmax"),
        F.sum("_s2").alias("_sum_s2"),
    )
    # pooled label marginals, array-gathered under the class guard
    labels = nij.groupBy("_lb").agg(
        F.sum(F.col("_n").cast("decimal(19,0)")).alias("_m")
    )
    lstats = labels.agg(F.collect_list("_m").alias("_ms"))
    one = istats.crossJoin(lstats)
    guarded_ms = F.when(
        F.size("_ms") <= F.lit(int(max_classes)), F.col("_ms")
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("fleiss_kappa: "), F.size("_ms").cast("string"),
            F.lit(f" distinct labels (> max_classes={max_classes}) — "
                  "this column looks like an identifier, not a label"),
        ))
    )
    r = F.when(
        (F.col("_rmin") == F.col("_rmax")) & (F.col("_rmin") >= 2),
        F.col("_rmin"),
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("fleiss_kappa: ragged rating panel — per-item rating "
                  "counts span ["),
            F.col("_rmin").cast("string"), F.lit(", "),
            F.col("_rmax").cast("string"),
            F.lit("] (classic Fleiss needs a constant r >= 2; "
                  "pre-filter to fully-rated items)"),
        ))
    )
    zero_d = F.lit(0).cast("decimal(38,0)")
    sum_m2 = F.aggregate(
        guarded_ms, zero_d, lambda acc, m: acc + m * m
    )
    n_i = F.col("_ni").cast("double")
    r_d = r.cast("double")
    # P̄ = (Σ_i Σ_j n_ij² − N·r) / (N·r·(r−1))
    p_bar = (
        (F.col("_sum_s2").cast("double") - n_i * r_d)
        / (n_i * r_d * (r_d - F.lit(1.0)))
    )
    # P_e = Σ_j (m_j / (N·r))² = Σ m_j² / (N·r)²
    p_e = sum_m2.cast("double") / (n_i * r_d * n_i * r_d)
    return one.filter(F.col("_ni") > 0).select(
        F.col("_ni").cast("bigint").alias("n_items"),
        r.cast("bigint").alias("n_raters"),
        F.size("_ms").cast("int").alias("n_categories"),
        F.round(p_bar, round_to).alias("p_bar"),
        F.round(p_e, round_to).alias("p_e"),
        F.round(
            F.when(p_e != 1.0, (p_bar - p_e) / (F.lit(1.0) - p_e)),
            round_to,
        ).alias("kappa"),
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    label_col: str,
    round_to: int = 6,
    max_panel_sizes: int = 10_000,
    metric: str = "nominal",
) -> DataFrame:
    """Krippendorff's alpha (nominal metric; Krippendorff 2004,
    coincidence-matrix formulation) — the agreement statistic for the
    panels :func:`fleiss_kappa` correctly refuses: RAGGED ones, where
    items carry different numbers of ratings because annotators
    abstain, time out, or arrive mid-project (the normal state of a
    real labeling pipeline). ``df`` holds one row per rating event
    ``(item, label)``; items with fewer than 2 ratings carry no
    pairable values and are excluded (the statistic's own rule, not a
    precondition). Returns ONE row ``(n_items, n_values,
    n_categories, d_o, d_e, alpha)`` where, with ``n_uc`` the count
    of label ``c`` on item ``u``, ``m_u = Σ_c n_uc`` and
    ``n = Σ_u m_u`` over pairable items:

    - ``d_o = (1/n) Σ_u (m_u² − Σ_c n_uc²) / (m_u − 1)`` — observed
      disagreement, each item's cross-label rating pairs weighted by
      its pairable mass;
    - ``d_e = (n² − Σ_c n_c²) / (n (n − 1))`` — expected disagreement
      from the pooled marginals ``n_c`` (pairable items only);
    - ``alpha = 1 − d_o / d_e`` (NULL when ``d_e = 0``: a
      single-category panel has undefined agreement, and the guard
      keeps an ANSI session from throwing on the 0/0).

    A constant-``r`` panel is just the special case where every
    ``m_u`` is equal, so alpha and Fleiss agree asymptotically there;
    alpha's ``(m_u − 1)`` weighting is what makes the ragged case
    principled instead of an error.

    ``metric="interval"`` scores NUMERIC ratings with the squared
    difference ``δ(c,k) = (c−k)²`` instead of identity — the right
    statistic for Likert scales and numeric quality scores, where a
    4-vs-5 disagreement should cost less than 1-vs-5. Ratings must be
    integral (enforced in-plan; scale fractional grids up, e.g.
    half-points × 2) so every moment stays exact: per item
    ``Σ_{c,k} n_uc n_uk (c−k)² = 2(m_u·S2_u − S1_u²)`` from the count
    table's value moments, and the marginal term
    ``2(n·T2 − T1²)`` likewise — both integral until the final
    divisions, same fixed-order fold across panel sizes.

    Scale shape (100 TB): ONE corpus-scan shuffle to the
    ``(item, label)`` count table; the per-item mass ``m_u`` comes
    from a window over that table's own item partitioning, and the
    downstream per-item reduction reuses the same exchange (its
    grouping keys contain the partitioning key). The only float sum
    crossing items, ``Σ_u A_u/(m_u − 1)``, is regrouped by the
    integer panel size ``m`` first — integral and exact within each
    group — then folded over the ``|distinct m|``-sized array in
    ascending-``m`` order: a fixed-order chain, bit-deterministic and
    SQL-replicable (the :func:`~yaetl_spark.operators.similarity.
    reciprocal_rank_fusion` discipline), guarded by
    ``max_panel_sizes`` against an unbounded collect. All other
    moments stay integral (DECIMAL(38,0) past 2⁶³, the
    :func:`fleiss_kappa` discipline) until the final divisions.

    Reference parity: fab2s/yaetl has no statistics layer; this
    extends the engine's quality battery (SURVEY §2 beyond-reference
    block) alongside cohens_kappa/fleiss_kappa.
    """
    from pyspark.sql import Window

    if metric not in ("nominal", "interval"):
        raise ValueError("metric must be 'nominal' or 'interval'")
    rated = df.filter(
        F.col(item_col).isNotNull() & F.col(label_col).isNotNull()
    )
    if metric == "interval":
        # numeric, INTEGRAL ratings only — the exact-moment discipline
        # needs integer values (fail loud on fractional grids; scale
        # half-points up by 2 at the caller)
        lb = F.when(
            F.col(label_col).cast("bigint").cast("double")
            == F.col(label_col).cast("double"),
            F.col(label_col).cast("bigint"),
        ).otherwise(
            F.raise_error(F.concat(
                F.lit("krippendorff_alpha(metric='interval'): "
                      "non-integer rating "),
                F.col(label_col).cast("string"),
                F.lit(" — scale the grid to integers first"),
            ))
        )
    else:
        lb = F.col(label_col).cast("string")
    nij = rated.groupBy(
        F.col(item_col).alias("_it"),
        lb.alias("_lb"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("_it")
    pair = nij.withColumn("_m", F.sum("_n").over(w)) \
        .filter(F.col("_m") >= 2)
    dec = "decimal(38,0)"
    # per-item pairable-disagreement mass A_u, grouped by (_it, _m):
    # the window's item partitioning satisfies the grouping's
    # clustering, so no new exchange.
    #   nominal:  A_u = m_u² − Σ_c n_uc²
    #   interval: A_u = Σ_{c,k} n_uc n_uk (c−k)² = 2(m_u·S2_u − S1_u²)
    if metric == "interval":
        items = pair.groupBy("_it", "_m").agg(
            F.sum(F.col("_n").cast(dec) * F.col("_lb")).alias("_s1"),
            F.sum(F.col("_n").cast(dec) * F.col("_lb") * F.col("_lb"))
            .alias("_s2"),
        ).select(
            "_it", "_m",
            (F.lit(2).cast(dec)
             * (F.col("_m").cast(dec) * F.col("_s2")
                - F.col("_s1") * F.col("_s1"))).alias("_a"),
        )
    else:
        items = pair.groupBy("_it", "_m").agg(
            F.sum(F.col("_n").cast(dec) * F.col("_n")).alias("_s2")
        ).select(
            "_it", "_m",
            (F.col("_m").cast(dec) * F.col("_m") - F.col("_s2"))
            .alias("_a"),
        )
    bym = items.groupBy("_m").agg(
        F.sum("_a").alias("_sm"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    mstats = bym.agg(
        F.sum(F.col("_m").cast(dec) * F.col("_cnt")).alias("_nv"),
        F.sum("_cnt").alias("_ni"),
        F.sort_array(
            F.collect_list(F.struct(F.col("_m"), F.col("_sm")))
        ).alias("_terms"),
    )
    # expected-disagreement marginals over pairable ratings only:
    #   nominal:  Σ_c n_c²            (label-keyed small groupBy)
    #   interval: 2(n·T2 − T1²) from the pooled value moments T1/T2
    if metric == "interval":
        lstats = pair.agg(
            F.sum(F.col("_n").cast(dec) * F.col("_lb")).alias("_t1"),
            F.sum(F.col("_n").cast(dec) * F.col("_lb") * F.col("_lb"))
            .alias("_t2"),
            F.count_distinct(F.col("_lb")).alias("_ncat"),
        )
    else:
        marg = pair.groupBy("_lb").agg(F.sum("_n").alias("_nc"))
        lstats = marg.agg(
            F.sum(F.col("_nc").cast(dec) * F.col("_nc"))
            .alias("_sum_nc2"),
            F.count(F.lit(1)).alias("_ncat"),
        )
    one = mstats.crossJoin(lstats)
    guarded = F.when(
        F.size("_terms") <= F.lit(int(max_panel_sizes)), F.col("_terms")
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("krippendorff_alpha: "),
            F.size("_terms").cast("string"),
            F.lit(f" distinct panel sizes (> max_panel_sizes="
                  f"{max_panel_sizes}) — the item column looks "
                  "degenerate; raise the guard only deliberately"),
        ))
    )
    t = F.aggregate(
        guarded,
        F.lit(0.0),
        lambda acc, x: acc
        + x["_sm"].cast("double")
        / (x["_m"].cast("double") - F.lit(1.0)),
    )
    n_d = F.col("_nv").cast("double")
    d_o = t / n_d
    if metric == "interval":
        d_e_num = (
            F.lit(2).cast(dec)
            * (F.col("_nv") * F.col("_t2") - F.col("_t1") * F.col("_t1"))
        )
    else:
        d_e_num = F.col("_nv") * F.col("_nv") - F.col("_sum_nc2")
    d_e = d_e_num.cast("double") / (n_d * (n_d - F.lit(1.0)))
    return one.filter(F.col("_ni") > 0).select(
        F.col("_ni").cast("bigint").alias("n_items"),
        F.col("_nv").cast("bigint").alias("n_values"),
        F.col("_ncat").cast("int").alias("n_categories"),
        F.round(d_o, round_to).alias("d_o"),
        F.round(d_e, round_to).alias("d_e"),
        F.round(
            F.when(d_e > 0.0, F.lit(1.0) - d_o / d_e), round_to
        ).alias("alpha"),
    )


def fk_integrity(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Foreign-key integrity audit: what fraction of fact rows have a
    matching dimension row — the referential-integrity check run
    before every big join ships (an orphan rate that jumped is a
    broken upstream export, and a join that silently drops 4% of
    revenue is how bad dashboards are born). Returns ONE row
    ``(n_fact, n_null_key, n_matched, n_orphan, orphan_rate)``;
    NULL fact keys are counted separately (they can never match and
    are usually a different defect than orphans).

    Scale shape (100 TB): the dimension side reduces to DISTINCT keys
    before the join (bounded by dimension cardinality, broadcastable
    when small — the planner decides); the fact side is ONE pass:
    left-join + conditional counts in a single partial aggregation,
    no second scan, no row explosion (distinct keys make the join
    at-most-one-match).
    """
    dk = dim_key or fact_key
    keys = dim.select(F.col(dk).alias("_dk")).where(
        F.col("_dk").isNotNull()
    ).distinct()
    joined = fact.select(F.col(fact_key).alias("_fk")).join(
        keys, F.col("_fk") == F.col("_dk"), "left"
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.count(F.when(F.col("_fk").isNull(), 1)).alias("n_null_key"),
        F.count(F.col("_dk")).alias("n_matched"),
        F.count(
            F.when(F.col("_fk").isNotNull() & F.col("_dk").isNull(), 1)
        ).alias("n_orphan"),
    )
    return agg.select(
        "n_fact",
        "n_null_key",
        "n_matched",
        "n_orphan",
        F.round(
            F.when(
                F.col("n_fact") > 0,
                F.col("n_orphan").cast("double") / F.col("n_fact"),
            ),
            round_to,
        ).alias("orphan_rate"),
    )
