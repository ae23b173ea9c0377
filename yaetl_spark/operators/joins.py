"""Joins — OnClause compiled to declarative DataFrame joins.

Reference semantics (SURVEY.md §2.3): a batched lookup join driven by the
probe side, with two variants —

- inner ("skip on miss", ``UniqueKeyExtractorAbstract.php:267-294``);
- left with a default record filled on miss (``OnClause.php:69-84``).

A user ``merger`` callable combines matched records; the canonical test
merger is ``array_replace($upstream, $joined)`` — joined values override
upstream on column-name conflict (``tests/YaEtlTest.php:126-134``).

Spark compilation:

- the join itself: ``df.join(dim, on, how)`` — Catalyst picks broadcast vs
  shuffle; small dims broadcast automatically, or force via ``broadcast=True``;
- merger: a deterministic post-join ``select`` implementing the conflict
  policy (``right`` == array_replace, ``left`` == keep probe values,
  ``suffix`` == keep both with a suffix);
- left-join defaults: ``coalesce(col, lit(default))`` per defaulted field.

Beyond-reference join surface (free on Spark, exposed for completeness):
semi/anti/full/cross via ``how=``, plus non-equi conditions via Column
expressions — see :func:`join` ``how`` values.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VALID_HOW = {
    "inner", "left", "right", "full", "left_semi", "left_anti", "cross",
}


class OnClause:
    """Join spec: key mapping + merge policy + optional default record.

    ``on`` is a single key name, a list of names, or ``{from_col: join_col}``
    for differently-named keys. ``default_record`` (left joins) fills
    missing join-side fields on miss. ``merge`` resolves column-name
    conflicts: ``'right'`` (array_replace parity, default), ``'left'``, or
    ``'suffix'`` (keep both, join side suffixed).
    """

    def __init__(
        self,
        on: str | Sequence[str] | Mapping[str, str],
        default_record: Mapping[str, Any] | None = None,
        merge: str = "right",
        suffix: str = "_joined",
    ):
        if merge not in ("right", "left", "suffix"):
            raise ValueError(f"merge must be right/left/suffix, got {merge!r}")
        if isinstance(on, str):
            self.key_map = {on: on}
        elif isinstance(on, Mapping):
            self.key_map = dict(on)
        else:
            self.key_map = {k: k for k in on}
        self.default_record = dict(default_record or {})
        self.merge = merge
        self.suffix = suffix


def join(
    left: DataFrame,
    right: DataFrame,
    on: OnClause | str | Sequence[str] | Mapping[str, str],
    how: str = "inner",
    broadcast: bool = False,
) -> DataFrame:
    """Equi join with reference merge semantics.

    ``how='left'`` with an OnClause ``default_record`` fills misses with the
    defaults (miss detection uses join-key nullness, so real nulls in
    matched rows are preserved — parity with pre-filled default records,
    ``UniqueKeyExtractorAbstract.php:396-406``).
    """
    clause = on if isinstance(on, OnClause) else OnClause(on)
    if how not in VALID_HOW:
        raise ValueError(f"how must be one of {sorted(VALID_HOW)}, got {how!r}")
    if clause.default_record and how != "left":
        # defaults are a left-join miss-fill concept; silently ignoring
        # them on other join types hid user intent
        raise ValueError(
            f"default_record is only supported for how='left', got {how!r}"
        )

    rhs = F.broadcast(right) if broadcast else right
    lalias, ralias = left.alias("__l"), rhs.alias("__r")
    cond = None
    for lk, rk in clause.key_map.items():
        c = F.col(f"__l.{lk}") == F.col(f"__r.{rk}")
        cond = c if cond is None else (cond & c)
    joined = lalias.join(ralias, cond, how)

    if how in ("left_semi", "left_anti"):
        return joined.select([F.col(f"__l.{c}").alias(c) for c in left.columns])

    left_cols = list(left.columns)
    right_cols = list(right.columns)
    # Right-side key columns equal the left's by the equi condition; drop
    # duplicates of identically-named keys.
    matched: Column | None = None
    if how == "full":
        # match detection for defaults unused in full joins
        pass
    elif how == "left" and clause.default_record:
        rk0 = next(iter(clause.key_map.values()))
        matched = F.col(f"__r.{rk0}").isNotNull()

    out_cols: list[Column] = []
    seen: set[str] = set()
    overlap = set(left_cols) & set(right_cols)
    for c in left_cols:
        if c in overlap and clause.merge == "right" and how != "left_anti":
            continue  # right side wins; emitted below in right order
        out_cols.append(F.col(f"__l.{c}").alias(c))
        seen.add(c)
    for c in right_cols:
        name = c
        expr = F.col(f"__r.{c}")
        if c in overlap:
            if clause.merge == "left":
                continue
            if clause.merge == "suffix":
                name = c + clause.suffix
            elif clause.merge == "right":
                # array_replace parity: right overrides, but keep the
                # left's value when the right side missed (left join).
                if how in ("left", "full"):
                    expr = F.coalesce(expr, F.col(f"__l.{c}"))
        if name in clause.default_record and matched is not None:
            expr = F.when(matched, expr).otherwise(
                F.lit(clause.default_record[name])
            )
        elif name in clause.default_record and how == "left":
            expr = F.coalesce(expr, F.lit(clause.default_record[name]))
        out_cols.append(expr.alias(name))
    return joined.select(*out_cols)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: OnClause | str | Sequence[str] | Mapping[str, str],
    salt: int = 16,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-safe equi join: spread pathological hot keys over ``salt``
    reducers.

    The probe side gets a uniform salt in ``[0, salt)``; the build side is
    replicated once per salt value (explode of a ``salt``-element array) and
    the join key becomes ``(key..., salt)`` — so a single hot key's rows land
    on ``salt`` different reducers instead of one. Semantics are identical
    to :func:`join` for ``inner``/``left`` (the build side is present under
    every salt, so miss detection is unchanged).

    Use when a handful of keys dominate AND the build side is too big to
    broadcast; AQE's skew-join split handles moderate skew automatically —
    this is the deterministic heavy hammer for pathological distributions
    (e.g. a null/default key holding 10% of 100 TB). Cost: build side
    ``salt×`` larger in the shuffle.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'/'left'")
    clause = on if isinstance(on, OnClause) else OnClause(on)
    # Seeded rand is deterministic per task attempt and uniform — the salt
    # only needs to spread rows, not be stable across different plans.
    l_salted = left.withColumn(
        "__salt", F.floor(F.rand(seed) * salt).cast("int")
    )
    r_salted = right.withColumn(
        "__salt_arr",
        F.array(*[F.lit(i) for i in range(salt)]),
    ).withColumn("__salt", F.explode("__salt_arr")).drop("__salt_arr")
    key_map = dict(clause.key_map)
    key_map["__salt"] = "__salt"
    out = join(
        l_salted,
        r_salted,
        OnClause(key_map, default_record=clause.default_record,
                 merge=clause.merge, suffix=clause.suffix),
        how=how,
    )
    return out.drop("__salt")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_time: str,
    right_time: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join (beyond-reference): for each left row, the latest right
    row with ``right_time <= left_time`` (backward) per key.

    Implemented as union + window over event time — one shuffle on
    ``(key, time)``, no range explosion, scales linearly with input.

    When several right rows share the same ``(key, right_time)``, the one
    with the greatest attribute tuple wins — a deterministic, partition-
    layout-independent tie-break (engine-order ``last()`` is not).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be backward/forward")
    keys = [on] if isinstance(on, str) else list(on)
    lcols = [c for c in left.columns]
    rcols = [c for c in right.columns if c not in keys and c != right_time]

    from pyspark.sql.window import Window

    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in rcols],
    )
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in keys],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in rcols],
    ).select(*l_tagged.columns)  # align column order

    unioned = l_tagged.unionByName(r_tagged)
    # final tie-break among right rows at identical (key, __t): order by
    # the right attribute tuple so last() picks a deterministic row (left
    # rows carry all-null __r_* and sort first within their (__t, 1) slot,
    # which never matters — only right rows compete for last())
    ties = (
        [F.struct(*[F.col(f"__r_{c}") for c in rcols]).asc_nulls_first()]
        if rcols else []
    )
    if direction == "backward":
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__t").asc(), F.col("__is_left").asc(), *ties)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__t").desc(), F.col("__is_left").asc(), *ties)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    filled = unioned.select(
        *unioned.columns,
        *[F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(f"__f_{c}") for c in rcols],
    )
    return (
        filled.filter(F.col("__is_left") == 1)
        .select(
            *[F.col(c) for c in lcols],
            *[F.col(f"__f_{c}").alias(c) for c in rcols],
        )
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_value: str,
    right_lo: str,
    right_hi: str,
    on: str | Sequence[str] | None = None,
    bucket_width: float | None = None,
    how: str = "inner",
) -> DataFrame:
    """Value-in-interval join: pair each left row with right rows whose
    ``[right_lo, right_hi)`` interval contains ``left_value`` (plus
    optional equi ``on`` keys). Column names must be disjoint across the
    sides apart from the ``on`` keys.

    The naive formulation is a pure non-equi join, which Spark can only
    plan as a broadcast-nested-loop / cartesian — quadratic at scale.
    With ``bucket_width`` set (the default path when omitted: derived
    from the right side's median interval span), every right interval is
    exploded into its covering buckets of that width and the left value
    maps to ``floor(value / width)`` — turning the range condition into
    an *equi* join on ``(keys..., bucket)`` plus an exact refine filter.
    Per-interval fanout is ``span/width + 1`` rows, the join is a plain
    hash join (AQE skew-split applies), and nothing is quadratic.

    Timestamps: cast to epoch seconds/micros first — buckets are numeric.
    """
    if how != "inner":
        # the post-join refine filter would silently drop unmatched outer
        # rows; outer interval semantics need an anti-side union — not
        # offered until someone needs it
        raise ValueError("range_join supports how='inner' only")
    keys = [on] if isinstance(on, str) else list(on or [])
    overlap = (set(left.columns) & set(right.columns)) - set(keys)
    if overlap:
        raise ValueError(f"column overlap between sides: {sorted(overlap)}")
    if bucket_width is None:
        # one tiny driver job over the right (intervals) side only
        med = right.select(
            F.expr(f"percentile_approx({right_hi} - {right_lo}, 0.5, 1000)")
        ).first()[0]
        bucket_width = float(med) if med and med > 0 else 1.0
    w = float(bucket_width)

    lb = left.withColumn("__bucket", F.floor(F.col(left_value) / w).cast("long"))
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / w).cast("long"),
                F.floor(F.col(right_hi) / w).cast("long"),
            )
        ),
    )
    joined = lb.join(rb, keys + ["__bucket"], how)
    refined = joined.filter(
        (F.col(left_value) >= F.col(right_lo))
        & (F.col(left_value) < F.col(right_hi))
    )
    return refined.drop("__bucket")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    ngram: int = 3,
    min_sim: float = 0.5,
    keep: str = "best",
    max_gram_df: int | str | None = "auto",
    max_hot_grams: int = 100_000,
    auto_min_df: int = 1_000,
    auto_frac: float = 0.01,
) -> DataFrame:
    """Approximate string join (entity resolution / record linkage):
    match rows whose strings share enough character ``ngram``-grams —
    Jaccard similarity of the two DISTINCT-gram sets at least
    ``min_sim``. Returns ``(left_id, right_id, sim, n_shared_grams)``
    with ``sim`` rounded to 6 (engine-portable compare).

    The entire verify step falls out of the blocking join: gram sets
    are deduplicated per row BEFORE exploding, so each (left, right,
    gram) candidate row appears exactly once and the intersection size
    is a plain COUNT per pair; each gram row carries its row's set size,
    so ``|A∪B| = na + nb - inter`` needs no join-back. One gram-keyed
    equi join + one pair-keyed aggregation — never an all-pairs compare.

    ``keep="best"`` returns the top match per left row (highest ``sim``,
    ties to the smallest ``right_id``); ``keep="all"`` returns every
    pair at or above the threshold.

    ``max_gram_df`` is the 100 TB lever: grams occurring in more than
    ``max_gram_df`` RIGHT rows are stop-grams (" th", "er ", ...) whose
    df² candidate fan-out dominates the join; with it set, both sides
    drop those grams and per-row set sizes are recounted, so the
    similarity is the exact Jaccard of the PRUNED gram sets —
    deterministic and engine-reproducible, same df-pruning move as the
    inverted index.

    The prune is ON BY DEFAULT (``max_gram_df="auto"``): the threshold
    is ``greatest(auto_min_df, ceil(auto_frac · n_right_rows))``,
    computed IN-PLAN from a 1-row right-count aggregate — no driver
    action. Because the threshold floors at ``auto_min_df``, the auto
    prune provably prunes nothing only while every gram's right-side
    df stays at or below ``auto_min_df`` — guaranteed when
    ``n_right ≤ auto_min_df`` rows; above that, any gram with
    df > ``auto_min_df`` IS pruned and similarities may differ from
    the unpruned join (the default changed from ``None`` to ``"auto"``
    in round 7 — callers with 10³–10⁵ right rows who need unpruned
    parity must pass ``None`` explicitly). At production scale a gram
    shared by > 1% of a
    billion-row side contributes ≥ 10¹⁴ candidate pairs on its own —
    exactly the fan-out the default exists to cut. Pass an int to pin
    the threshold (oracle-reproducible), or ``None`` to disable for
    small-data contrast runs; production ``keep="all"`` extractions
    should never run with ``None``.

    The prune itself is SCAN-LEVEL: the hot-gram list rides a 1-row
    broadcast (:func:`~yaetl_spark.operators.curation.attach_scalars`)
    and each row's set is cut with ``array_except`` BEFORE exploding,
    so pruning adds zero shuffles to the stream — the only new shuffle
    is the bounded gram-df count itself. That is safe because the
    distinct char-``ngram`` space is capped by ``charset**ngram``
    (tens of thousands for the default ``ngram=3``) and Zipf keeps the
    over-threshold subset tiny; ``max_hot_grams`` is the explicit
    in-plan ceiling — the job fails with a clear message instead of
    silently broadcasting an unexpectedly huge stop-gram list.

    Self-join note: pass pre-aliased id columns with different names
    and filter ``left_id < right_id`` downstream to halve the pair
    space.
    """
    from pyspark.sql import Window

    from .dedup import shingles

    if keep not in ("best", "all"):
        raise ValueError("keep must be 'best' or 'all'")
    if not 0.0 < min_sim <= 1.0:
        raise ValueError("min_sim must be in (0, 1]")
    if left_id == right_id:
        raise ValueError(
            "left_id and right_id must differ (alias before joining; "
            "output carries both)"
        )

    def gram_sets(df: DataFrame, col: str, id_: str) -> DataFrame:
        return df.select(
            F.col(id_),
            shingles(F.col(col), "char", ngram).alias("_gs"),
        ).filter(F.size("_gs") > 0)

    def explode_stream(sets: DataFrame, id_: str, size_name: str,
                       gram_name: str) -> DataFrame:
        return sets.select(
            F.col(id_),
            F.size("_gs").alias(size_name),
            F.explode("_gs").alias(gram_name),
        )

    ls = gram_sets(left, left_col, left_id)
    rs = gram_sets(right, right_col, right_id)
    if max_gram_df is not None:
        auto = max_gram_df == "auto"
        if isinstance(max_gram_df, str) and not auto:
            raise ValueError("max_gram_df must be an int, 'auto' or None")
        if not auto and max_gram_df < 1:
            raise ValueError("max_gram_df must be >= 1")
        from .curation import attach_scalars

        # df per gram over RIGHT rows (per-row sets are already
        # distinct, so COUNT is the document frequency); the whole
        # stop-gram list then collapses to ONE row that broadcasts
        # onto both streams — the prune costs one bounded gram-keyed
        # aggregation and nothing else.
        gram_df = (
            explode_stream(rs, right_id, "_nb", "_g")
            .groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_df"))
        )
        if auto:
            # threshold from the right row count, attached IN-PLAN as a
            # 1-row broadcast — no driver action at call time
            nr_row = rs.agg(F.count(F.lit(1)).alias("_nr"))
            thresh = F.greatest(
                F.lit(int(auto_min_df)).cast("bigint"),
                F.ceil(F.lit(float(auto_frac)) * F.col("_nr")),
            )
            hot_src = (
                attach_scalars(gram_df, nr_row, "_g")
                .filter(F.col("_df") > thresh)
            )
        else:
            hot_src = gram_df.filter(F.col("_df") > int(max_gram_df))
        hot_row = (
            hot_src
            .agg(
                F.coalesce(F.collect_list("_g"), F.array()).alias("_hot"),
                F.count(F.lit(1)).alias("_n_hot"),
            )
        )

        def prune(sets: DataFrame, id_: str) -> DataFrame:
            # raise_error only evaluates when the ceiling is breached;
            # _n_hot is non-foldable so the guard survives optimization
            hot_arr = F.when(
                F.col("_n_hot") <= F.lit(int(max_hot_grams)), F.col("_hot")
            ).otherwise(
                F.raise_error(F.concat(
                    F.lit("fuzzy_join: stop-gram list has "),
                    F.col("_n_hot").cast("string"),
                    F.lit(f" grams (> max_hot_grams={max_hot_grams}); "
                          "raise max_gram_df or max_hot_grams"),
                ))
            )
            return (
                attach_scalars(sets, hot_row, id_)
                .withColumn("_gs", F.array_except("_gs", hot_arr))
                .drop("_hot", "_n_hot")
                .filter(F.size("_gs") > 0)
            )

        ls = prune(ls, left_id)
        rs = prune(rs, right_id)
    lg = explode_stream(ls, left_id, "_na", "_g")
    rg = explode_stream(rs, right_id, "_nb", "_g")
    pairs = (
        lg.join(rg, "_g")
        .groupBy(left_id, right_id)
        .agg(
            F.count(F.lit(1)).alias("_inter"),
            F.any_value("_na").alias("_va"),
            F.any_value("_nb").alias("_vb"),
        )
    )
    sim = F.round(
        F.col("_inter").cast("double")
        / (F.col("_va") + F.col("_vb") - F.col("_inter")).cast("double"),
        6,
    )
    scored = pairs.select(
        left_id, right_id, sim.alias("sim"),
        F.col("_inter").cast("bigint").alias("n_shared_grams"),
    ).filter(F.col("sim") >= F.lit(float(min_sim)))
    if keep == "all":
        return scored
    w = Window.partitionBy(left_id).orderBy(
        F.col("sim").desc(), F.col(right_id).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def table_diff(
    reference: DataFrame,
    current: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
    detail: bool = False,
) -> DataFrame:
    """Snapshot reconciliation — the audit every incremental pipeline
    runs before publishing a new table version: which keys were ADDED,
    REMOVED, or CHANGED between ``reference`` (yesterday's snapshot)
    and ``current`` (today's)?

    ``compare_cols`` defaults to every non-key column the two frames
    share (in the reference's column order). Per-column comparison is
    NULL-SAFE (``IS DISTINCT FROM`` semantics: NULL → NULL is
    unchanged, NULL → value is a change). Keys are assumed unique per
    side (this is a keyed-snapshot audit, not a bag diff — duplicate
    keys multiply through the join and inflate the counts).

    ``detail=False`` (default): ONE summary row ``(n_ref, n_cur,
    n_added, n_removed, n_changed, n_unchanged)``. ``detail=True``:
    one row per non-identical key — ``(key…, change_type,
    changed_cols)`` with ``change_type`` in added/removed/changed and
    ``changed_cols`` the comma-joined changed column names in
    ``compare_cols`` order (empty for added/removed); unchanged rows
    are omitted because at scale they are almost all of the table.

    Scale shape (100 TB): ONE full outer sort-merge join on the key —
    each side shuffles exactly once on the columns it would shuffle on
    anyway — then pure scan-level CASE arithmetic; the summary reduces
    map-side to one row. No Python, no windows, no second pass.
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must name at least one column")
    if compare_cols is None:
        shared = set(reference.columns) & set(current.columns)
        compare_cols = [c for c in reference.columns
                        if c in shared and c not in keys]
    cols = list(compare_cols)
    overlap = set(cols) & set(keys)
    if overlap:
        raise ValueError(f"compare_cols overlap key_cols: {sorted(overlap)}")

    ref = reference.select(
        *keys, F.lit(1).alias("_inr"),
        *[F.col(c).alias(f"_r_{c}") for c in cols],
    )
    cur = current.select(
        *keys, F.lit(1).alias("_inc"),
        *[F.col(c).alias(f"_c_{c}") for c in cols],
    )
    j = ref.join(cur, keys, "full")
    diffs = [
        ~F.col(f"_r_{c}").eqNullSafe(F.col(f"_c_{c}")) for c in cols
    ]
    any_diff = F.lit(False)
    for d in diffs:
        any_diff = any_diff | d
    change = (
        F.when(F.col("_inr").isNull(), F.lit("added"))
        .when(F.col("_inc").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    if detail:
        changed_cols = F.concat_ws(
            ",",
            *[
                F.when(
                    (F.col("_inr").isNotNull() & F.col("_inc").isNotNull())
                    & d,
                    F.lit(c),
                )
                for c, d in zip(cols, diffs)
            ],
        ) if cols else F.lit("")
        return (
            j.select(
                *keys,
                change.alias("change_type"),
                changed_cols.alias("changed_cols"),
            )
            .filter(F.col("change_type") != "unchanged")
        )
    return j.agg(
        F.sum(F.coalesce("_inr", F.lit(0))).cast("bigint").alias("n_ref"),
        F.sum(F.coalesce("_inc", F.lit(0))).cast("bigint").alias("n_cur"),
        F.sum(F.when(change == "added", 1).otherwise(0))
        .cast("bigint").alias("n_added"),
        F.sum(F.when(change == "removed", 1).otherwise(0))
        .cast("bigint").alias("n_removed"),
        F.sum(F.when(change == "changed", 1).otherwise(0))
        .cast("bigint").alias("n_changed"),
        F.sum(F.when(change == "unchanged", 1).otherwise(0))
        .cast("bigint").alias("n_unchanged"),
    )
