"""Aggregation + window + set-op + sort helpers (beyond-reference layer).

The reference has NO group-by/window/sort/distinct (SURVEY.md §2.9) —
these are the capability extensions every analytics engine needs, exposed
as Pipeline-compatible transformers. All thin wrappers over native
DataFrame ops so Catalyst keeps partial aggregation (map-side combine),
TakeOrderedAndProject top-k, and pushdown.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .stats import _equi_width_cell
from .transformers import Transformer


class Aggregate(Transformer):
    """groupBy().agg() with named outputs; ``kind`` selects plain grouping,
    'rollup' or 'cube'. Aggregates must be pre-aliased Columns."""

    def __init__(
        self,
        keys: Sequence[str],
        *aggs: Column,
        kind: str = "group",
        grouping_sets: Sequence[Sequence[str]] | None = None,
    ):
        self.keys = list(keys)
        self.aggs = aggs
        self.kind = kind
        self.grouping_sets = (
            [list(s) for s in grouping_sets] if grouping_sets else None
        )

    def apply(self, df: DataFrame) -> DataFrame:
        if self.kind == "group":
            grouped = df.groupBy(*self.keys)
        elif self.kind == "rollup":
            grouped = df.rollup(*self.keys)
        elif self.kind == "cube":
            grouped = df.cube(*self.keys)
        elif self.kind == "grouping_sets":
            grouped = df.groupingSets(
                [[F.col(c) for c in s] for s in self.grouping_sets or []],
                *self.keys,
            )
        else:
            raise ValueError("kind must be group/rollup/cube/grouping_sets")
        return grouped.agg(*self.aggs)


class WindowCalc(Transformer):
    """Add window-function columns: ``partition_by`` + ``order_by`` define
    the frame; ``exprs`` maps output name → window function (applied
    ``.over(w)`` here so callers pass plain functions)."""

    def __init__(
        self,
        partition_by: Sequence[str],
        order_by: Sequence[Column | str],
        **exprs: Column,
    ):
        self.partition_by = list(partition_by)
        self.order_by = list(order_by)
        self.exprs = exprs

    def apply(self, df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*self.partition_by).orderBy(*self.order_by)
        return df.withColumns({name: c.over(w) for name, c in self.exprs.items()})


class TopK(Transformer):
    """orderBy().limit(k) — Spark plans TakeOrderedAndProject (per-partition
    heap + driver merge), never a global sort."""

    def __init__(self, order_by: Sequence[Column | str], k: int):
        self.order_by = list(order_by)
        self.k = k

    def apply(self, df: DataFrame) -> DataFrame:
        return df.orderBy(*self.order_by).limit(self.k)


class Distinct(Transformer):
    def __init__(self, columns: Sequence[str] | None = None):
        self.columns = list(columns) if columns else None

    def apply(self, df: DataFrame) -> DataFrame:
        return df.select(*self.columns).distinct() if self.columns else df.distinct()


def pandas_udaf(fn, return_type: str = "double"):
    """Wrap a ``pandas.Series -> scalar`` callable as a GROUPED_AGG pandas
    UDF — the UDAF surface (SURVEY.md §2.10, absent in the reference).

    Usage::

        median = pandas_udaf(lambda s: float(s.median()))
        df.groupBy("k").agg(median("x").alias("med"))

    Arrow-batched per group; Spark still plans partial aggregation for the
    native aggs around it, but the UDAF itself needs the whole group on one
    executor — prefer native ``F.*``/``percentile_approx`` in hot paths and
    keep this for genuinely custom statistics.
    """
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    py_type = {
        "double": float, "float": float, "bigint": int, "long": int,
        "int": int, "integer": int, "string": str, "boolean": bool,
    }.get(return_type.lower(), float)

    def wrapped(s):
        return fn(s)

    # Series -> scalar type hints make pandas_udf infer GROUPED_AGG.
    wrapped.__annotations__ = {"s": pd.Series, "return": py_type}
    return pandas_udf(wrapped, return_type)


def percentiles(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    probs: Sequence[float] = (0.5, 0.9, 0.99),
    names: Sequence[str] | None = None,
    exact: bool = False,
    accuracy: int = 10_000,
    round_to: int | None = 4,
) -> DataFrame:
    """Grouped percentiles of ``value_col``.

    Production default is ``percentile_approx`` — a bounded-size sketch
    that merges map-side, so the shuffle carries one sketch per group
    regardless of row count: the only shape that survives 100 TB.
    ``exact=True`` switches to the sort-based ``percentile()`` aggregate
    (each group's values gathered and interpolated — deterministic and
    cross-engine reproducible, for oracle/verification runs on bounded
    groups). ``accuracy`` trades sketch memory for error (1/accuracy
    relative rank error).
    """
    names = list(names) if names else [
        "p" + format(p * 100, "g").replace(".", "_") for p in probs
    ]
    # one shared aggregate for all requested percentiles (one sort per
    # group in the exact case, one sketch in the approx case) — separate
    # percentile expressions each buffer their own copy of the group
    arr = ", ".join(repr(float(p)) for p in probs)
    pct = (
        f"percentile({value_col}, array({arr}))" if exact
        else f"percentile_approx({value_col}, array({arr}), {accuracy})"
    )
    qs = F.expr(pct).cast("array<double>")
    aggs: list[Column] = [qs.alias("_qs")]
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    agged = grouped.agg(*aggs)
    cols = [F.col(k) for k in keys]
    for i, name in enumerate(names):
        v = F.element_at("_qs", i + 1)
        if round_to is not None:
            v = F.round(v, round_to)
        cols.append(v.alias(name))
    return agged.select(*cols, "n_rows")


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Equal-width histogram over ``[lo, hi)``: ``(bin, bin_lo, bin_hi,
    n)``, out-of-range rows dropped. The bin is scan-level arithmetic
    (``floor((x - lo) / width)``) so the only shuffle is the bin-keyed
    count — map-side combine reduces it to ≤ nbins rows per partition;
    empty bins are absent (join a bin spine if a dense axis is needed)."""
    if not (hi > lo and nbins > 0):
        raise ValueError("need hi > lo and nbins > 0")
    width = (float(hi) - float(lo)) / nbins
    x = F.col(col).cast("double")
    # clamp: width = (hi-lo)/nbins is inexact, so (x-lo)/width can round
    # up to nbins for x just below hi, emitting a bin with bin_hi > hi
    b = F.least(
        F.floor((x - F.lit(float(lo))) / F.lit(width)).cast("long"),
        F.lit(nbins - 1).cast("long"),
    )
    return (
        df.filter((x >= lo) & (x < hi))
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.lit(float(lo)) + F.col("bin") * width, 6).alias("bin_lo"),
            F.round(F.lit(float(lo)) + (F.col("bin") + 1) * width, 6).alias("bin_hi"),
            "n",
        )
    )


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style column profile: one row per column with
    ``(column, n_rows, n_nonnull, ndv, min_val, max_val)`` — min/max
    computed in the column's native ordering, then rendered as strings so
    heterogeneous columns stack into one frame.

    Scale shape: a single scan computes every metric for every column at
    once; the per-column long format comes from exploding an inline
    struct array of the finished scalars — no second scan. Caveat:
    multiple exact ``countDistinct`` aggregates compile to an Expand
    node that replicates each input row once per distinct-aggregate
    (k profiled columns → (k+1)× the shuffled rows). Fine for a
    profiling job; at 100 TB with many columns swap in
    ``approx_count_distinct``, which drops the Expand entirely and
    shuffles constant-size HLL sketches instead.
    """
    if not cols:
        raise ValueError("cols must name at least one column")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__ndv_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    structs = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nn_{c}").alias("n_nonnull"),
            F.col(f"__ndv_{c}").alias("ndv"),
            F.col(f"__mn_{c}").alias("min_val"),
            F.col(f"__mx_{c}").alias("max_val"),
        )
        for c in cols
    ])
    return one.select(F.explode(structs).alias("p")).select("p.*")


def equi_depth_histogram(
    df: DataFrame,
    col: str,
    nbins: int,
    exact: bool = False,
    accuracy: int = 10_000,
    round_to: int = 6,
) -> DataFrame:
    """Equal-DEPTH histogram (≈ same row count per bin), the
    data-distribution view equal-width bins can't give on skewed
    columns: bin boundaries are the ``i/nbins`` percentiles, bucket
    assignment is scan-level arithmetic against the boundary array.
    Returns ``(bin, bin_lo, bin_hi, n)`` — ``bin_lo``/``bin_hi`` are
    the column min / the next boundary (max for the last bin), rounded
    to ``round_to``; empty bins are absent (possible only when a
    boundary value repeats, i.e. a heavy value spans bins).

    TWO passes, never a global sort: pass 1 reduces to ONE row of
    boundaries + min/max (``percentile_approx`` sketches by default —
    map-side mergeable, constant-size shuffle; ``exact=True`` switches
    to the sort-based ``percentile`` aggregate for oracle runs); the
    boundary row then rides back onto the stream in-plan via
    :func:`~yaetl_spark.operators.curation.attach_scalars` (1-row
    broadcast hash join — no driver round-trip), bucket =
    ``size(filter(bounds, b -> x >= b))`` is pure scan arithmetic, and
    the only remaining shuffle is the ≤ nbins-row bin count. Boundaries
    are rounded to ``round_to`` BEFORE the compare so the bin decision
    is reproducible across engines.
    """
    from .curation import attach_scalars

    if nbins < 2:
        raise ValueError("nbins must be >= 2")
    x = F.col(col).cast("double")
    # all boundaries from ONE percentile aggregate: each separate exact
    # percentile expression buffers and sorts its own copy of the column
    # (k boundaries = k sorts); the array form shares one buffer/sort —
    # same values, same rounding, same bins
    arr = ", ".join(repr(i / nbins) for i in range(1, nbins))
    pct = (
        f"percentile({col}, array({arr}))" if exact
        else f"percentile_approx({col}, array({arr}), {accuracy})"
    )
    bounds_row = df.agg(
        F.transform(
            F.expr(pct).cast("array<double>"),
            lambda v: F.round(v, round_to),
        ).alias("_bounds"),
        F.round(F.min(x), round_to).alias("_mn"),
        F.round(F.max(x), round_to).alias("_mx"),
    )
    tagged = attach_scalars(df.filter(x.isNotNull()), bounds_row, col)
    bin_ = F.size(F.filter(F.col("_bounds"), lambda b: x >= b))
    return (
        tagged.groupBy(
            bin_.alias("bin"), F.col("_bounds"), F.col("_mn"), F.col("_mx")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.when(F.col("bin") == 0, F.col("_mn"))
            .otherwise(F.element_at("_bounds", F.col("bin")))
            .alias("bin_lo"),
            F.when(F.col("bin") == nbins - 1, F.col("_mx"))
            .otherwise(F.element_at("_bounds", F.col("bin") + 1))
            .alias("bin_hi"),
            "n",
        )
    )


def equi_width_histogram(
    df: DataFrame,
    col: str,
    nbins: int,
    round_to: int = 6,
) -> DataFrame:
    """Equal-WIDTH histogram: ``nbins`` buckets of identical span over
    ``[min, max]`` — the profiling companion to
    :func:`equi_depth_histogram` (depth answers "where are the rows",
    width answers "what does the value range look like"). Returns
    ``(bin, bin_lo, bin_hi, n)``; empty bins are absent (join a
    ``sequence(0, nbins-1)`` spine downstream for dense output); a
    degenerate column (``min == max``) lands every row in bin 0.

    TWO passes, no sort anywhere: pass 1 reduces the scan to ONE
    min/max row (map-side combine, constant shuffle); the row rides
    back in-plan via
    :func:`~yaetl_spark.operators.curation.attach_scalars` (1-row
    broadcast hash join, no driver round-trip); bucket assignment is
    the scan-level expression
    ``least(nbins-1, floor((x - min) / width))``; the only remaining
    shuffle is the ≤ nbins-row bin count. min/max are rounded to
    ``round_to`` BEFORE the width divide, so the bin decision — and
    therefore the hash-compared result — is reproducible across
    engines (same absorb-the-ulps move as the equi-depth boundaries).
    """
    from .curation import attach_scalars

    if nbins < 1:
        raise ValueError("nbins must be >= 1")
    x = F.col(col).cast("double")
    mm_row = df.agg(
        F.round(F.min(x), round_to).alias("_mn"),
        F.round(F.max(x), round_to).alias("_mx"),
    )
    tagged = attach_scalars(df.filter(x.isNotNull()), mm_row, col)
    # clamped at BOTH ends: _mn/_mx are rounded, so a true min that
    # rounds UP would otherwise index -1 and a true max that rounds
    # DOWN would index nbins
    bin_ = _equi_width_cell(x, F.col("_mn"), F.col("_mx"), nbins)
    return (
        tagged.groupBy(bin_.alias("bin"), F.col("_mn"), F.col("_mx"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.round(
                F.col("_mn")
                + F.col("bin") * (F.col("_mx") - F.col("_mn"))
                / F.lit(float(nbins)),
                round_to,
            ).alias("bin_lo"),
            F.round(
                F.col("_mn")
                + (F.col("bin") + 1) * (F.col("_mx") - F.col("_mn"))
                / F.lit(float(nbins)),
                round_to,
            ).alias("bin_hi"),
            "n",
        )
    )


def file_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Zonemap harvest: per INPUT FILE of a scanned DataFrame, the row
    count plus min/max of each named column — ``(file, n_rows,
    {col}_min, {col}_max, ...)`` with ``file`` the path basename. This
    is the stats table a data-skipping layer consumes: a predicate
    ``x BETWEEN a AND b`` can drop every file whose ``[min, max]``
    misses the range before any scan happens (the same contract parquet
    row-group stats and Delta/Iceberg file stats serve — harvested here
    as a queryable table so layout quality is auditable: well-sorted
    ingest → tight disjoint ranges → skippable; random ingest → every
    file spans everything → nothing skips).

    Scale shape (100 TB): ``input_file_name()`` is a scan-level virtual
    column; the aggregate is partially combined map-side — and since
    rows of one file live in partitions of that same file, the partial
    aggregates collapse to ~1 row per file BEFORE the shuffle. Output
    is |files| rows, never data-sized. Works on any file-backed scan
    (parquet/orc/csv); on a non-file source ``file`` is '' (one group).
    """
    if not cols:
        raise ValueError("cols must name at least one column")
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(F.col(c)).alias(f"{c}_min"))
        aggs.append(F.max(F.col(c)).alias(f"{c}_max"))
    return (
        df.groupBy(
            F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ).alias("file")
        )
        .agg(*aggs)
    )
