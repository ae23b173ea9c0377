"""Qualifiers — declarative filters + flow interruption.

Parity (SURVEY.md §2.5, §2.8):

- keep/skip → ``df.filter`` (``QualifierAbstract.php:61-81``);
- plain ``continue`` interrupts == filter (record skipped);
- targeted ``continue`` (skip the rest of the current upstream
  record's iteration) → :class:`ContinueAt` — a per-upstream-record
  truncation via one conditional-window-min cut;
- ``break`` interrupts (stop consuming the source): :class:`StopWhen`
  implements ``break after N kept records`` (== ``limit``, pushed into
  the scan) and :class:`BreakAt` the deterministic targeted break
  (self, or root-targeted from a branch). The node-targeted BREAK is
  the one remaining documented divergence — indistinguishable from a
  self-break in a vectorized plan.

A qualifier accepts a Column, a SQL string, or a pandas Series predicate
function (Arrow-batched; slow path).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import pandas as _  # noqa: F401  (ensures pandas_udf availability)


def as_condition(condition: Column | str) -> Column:
    """A qualifier condition as a Column: a string is a SQL expression."""
    return F.expr(condition) if isinstance(condition, str) else condition


class Qualifier:
    def apply(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)


class Predicate(Qualifier):
    def __init__(self, condition: Column | str):
        self.condition = condition

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(as_condition(self.condition))


class PandasPredicate(Qualifier):
    """Callable qualifier escape hatch: ``pd.DataFrame -> bool Series``."""

    def __init__(self, fn: Callable[[pd.DataFrame], pd.Series]):
        self.fn = fn

    def apply(self, df: DataFrame) -> DataFrame:
        fn = self.fn
        schema = df.schema

        def mapper(batches):
            for batch in batches:
                yield batch[fn(batch).astype(bool)]

        return df.mapInPandas(mapper, schema=schema)


class StopWhen(Qualifier):
    """Early termination — the tractable slice of targeted breaks.

    ``max_records=N`` == "break after N records pass" → ``df.limit(N)``;
    Catalyst turns this into an early-stopping LocalLimit per partition +
    GlobalLimit, i.e. genuinely stops the scan (the distributed analogue of
    the reference's break-to-source,
    ``/root/reference/src/Qualifiers/QualifierAbstract.php:69-77``).

    For *targeted* breaks with deterministic record order, see
    :class:`BreakAt`.
    """

    def __init__(self, condition: Column | str | None = None, max_records: int | None = None):
        self.condition = condition
        self.max_records = max_records

    def apply(self, df: DataFrame) -> DataFrame:
        out = df
        if self.condition is not None:
            out = out.filter(~as_condition(self.condition))
        if self.max_records is not None:
            out = out.limit(self.max_records)
        return out


class BreakAt(Qualifier):
    """Targeted break interrupt, made deterministic by a record order.

    The reference's break interrupt stops the *targeted* traversable: self,
    a specific upstream node, or an ancestor flow
    (``/root/reference/src/Qualifiers/QualifierAbstract.php:69-77``; counter
    matrix in ``tests/QualifierTest.php:407-1276``). Record-at-a-time, "stop"
    means "records after the triggering one are never extracted". The
    deterministic batch analogue: order records by ``order_by`` and keep only
    those strictly before the first record matching ``condition``
    (``inclusive=True`` keeps the trigger record itself).

    In a linear DataFrame lineage, breaking a mid-flow node and breaking its
    source truncate the same flow — the reference's observable difference is
    about in-flight records, which a vectorized engine doesn't have. The one
    distinction that survives is *which flow* is truncated: ``target="self"``
    truncates the declaring (branch) flow only; ``target="root"`` on a branch
    qualifier truncates the shared ancestor flow — root sinks and sibling
    branches included — matching the root-targeted break from inside a branch
    (``tests/QualifierTest.php:570-648``).

    Scale shape: no global sort. The cut point is a map-side-combinable
    ``min(order_by) WHERE condition`` aggregate; the truncation is a filter
    against that one-row broadcast (lazy form), or — when the pipeline runs
    it (``Pipeline.run``) — a *literal* pushed-down filter after an eager
    one-row cut job, which Catalyst can push into the scan and use for
    partition pruning.
    """

    def __init__(
        self,
        condition: Column | str,
        order_by: Column | str,
        inclusive: bool = False,
        target: str = "self",
    ):
        if target not in ("self", "root"):
            raise ValueError(
                f"target must be 'self' or 'root', got {target!r}. The "
                "reference additionally targets a specific UPSTREAM NODE "
                "from a downstream qualifier (Interrupter(TARGET_TOP/"
                "node), src/Qualifiers/QualifierAbstract.php:69-77) — in "
                "its record-at-a-time engine that differs from a source "
                "break only in which in-flight records drain through the "
                "nodes between target and qualifier. A vectorized plan "
                "has no in-flight records, so node-targeted breaks are "
                "indistinguishable from target='self' here; they are "
                "rejected (documented divergence, SURVEY.md §2.8) rather "
                "than silently approximated. The targeted CONTINUE (skip "
                "the rest of the current upstream record's iteration) IS "
                "distinguishable and implemented: see ContinueAt."
            )
        self.condition = condition
        self.order_by = order_by
        self.inclusive = inclusive
        self.target = target

    def _cond(self) -> Column:
        return as_condition(self.condition)

    def _order(self) -> Column:
        o = self.order_by
        return F.col(o) if isinstance(o, str) else o

    def cut(self, df: DataFrame):
        """Eagerly compute the cut point (one tiny job); None = no trigger."""
        row = df.filter(self._cond()).agg(F.min(self._order())).first()
        return row[0] if row else None

    def truncate(self, df: DataFrame, cut_value) -> DataFrame:
        """Apply an already-computed cut as a literal (pushdown-able) filter."""
        if cut_value is None:
            return df
        order = self._order()
        keep = order <= F.lit(cut_value) if self.inclusive else order < F.lit(cut_value)
        return df.filter(keep)

    def apply(self, df: DataFrame) -> DataFrame:
        """Lazy single-plan form: broadcast the one-row cut aggregate."""
        order = self._order()
        cut = df.filter(self._cond()).agg(F.min(order).alias("__break_cut"))
        keep = (
            order <= F.col("__break_cut")
            if self.inclusive
            else order < F.col("__break_cut")
        )
        return (
            df.crossJoin(F.broadcast(cut))
            .filter(F.col("__break_cut").isNull() | keep)
            .drop("__break_cut")
        )


class ContinueAt(Qualifier):
    """Targeted CONTINUE interrupt aimed at an upstream node — the slice
    of the reference's targeted-interrupt matrix that IS distinguishable
    in a vectorized engine (``src/Qualifiers/QualifierAbstract.php:61-77``,
    matrix ``tests/QualifierTest.php:407-1276``).

    Record-at-a-time, "continue targeted at upstream node N" means: when
    the qualifier fires, skip the triggering record AND the remainder of
    the current N-record's downstream iteration, then resume with N's
    next record. In the sequential multi-``from_`` flow (the reference's
    nested re-extraction, ``README.md:140-168`` → crossJoin here), that
    is a PER-OUTER-RECORD break: for each partition key (the targeted
    extractor's record identity, ``partition_by``), keep only rows
    strictly before the key's first trigger in ``order_by`` order
    (``inclusive=True`` keeps the trigger row itself — the
    skip-after-me variant).

    A plain (un-targeted) continue is just ``filter`` — this class
    exists for the targeted form only. Unlike ``BreakAt`` the flow is
    NOT truncated globally and sinks flush ``clean``: the reference's
    continue never breaks the flow, it advances it.

    Determinism requires ``order_by`` unique within a partition (same
    contract as ``BreakAt``'s global order).

    Scale shape (100 TB): ONE hash shuffle on ``partition_by`` — the
    cut point is a conditional window ``min`` (``min(order) FILTER
    (cond)`` over the key partition, streaming O(1) state), the keep is
    a scan-level compare against it. No joins, no driver action, no
    global sort; a mega key serializes its own window sort but cannot
    OOM.
    """

    def __init__(
        self,
        condition: Column | str,
        order_by: Column | str,
        partition_by: list[str],
        inclusive: bool = False,
    ):
        if not partition_by:
            raise ValueError(
                "partition_by must name the targeted upstream record's "
                "identity columns; for a flow-wide truncation use BreakAt"
            )
        self.condition = condition
        self.order_by = order_by
        self.partition_by = list(partition_by)
        self.inclusive = inclusive

    def apply(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        cond = as_condition(self.condition)
        order = (
            F.col(self.order_by)
            if isinstance(self.order_by, str)
            else self.order_by
        )
        w = Window.partitionBy(*self.partition_by)
        # window expressions can't sit in a WHERE clause: project the
        # cut, filter against the materialized column, drop it
        cut = F.min(F.when(cond, order)).over(w)
        out = df.withColumn("__cont_cut", cut)
        keep = (
            order <= F.col("__cont_cut")
            if self.inclusive
            else order < F.col("__cont_cut")
        )
        return out.filter(
            F.col("__cont_cut").isNull() | keep
        ).drop("__cont_cut")
