"""Sink abstraction — the loader analogue.

Reference contract: per-record ``exec`` + one final ``flush($flowStatus)``
(``/root/reference/src/Loaders/LoaderInterface.php:18-33``,
``LoaderAbstract.php:52-87``). On Spark a sink is one *write action* over a
DataFrame; the write job's atomic commit IS the flush, and the job result
(success/failure) is the flow status handed to :meth:`on_flush` hooks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


class Sink:
    """Base sink: subclasses implement :meth:`write`.

    ``force_flush=True`` flushes this sink immediately after its own write
    instead of deferring to the end-of-flow root flush — the
    ``forceFlush`` analogue (``src/YaEtl.php:148-153``, branch-flush
    deferral ``src/YaEtl.php:349-393``).

    ``returning=True`` marks a *chained* sink (``isAReturningVal``,
    ``src/Loaders/LoaderAbstract.php:28-35``, ``docs/citizens.md:465-496``):
    its :meth:`write` may return an enriched DataFrame which then feeds the
    NEXT sink in the same chain — the reference's UUID-assigning-loader
    pattern. The returned frame must be deterministic on re-evaluation or
    already materialized (``createDataFrame`` over computed rows, or a
    re-read of the written output): downstream sinks trigger their own
    actions over it.

    Threads: :meth:`Pipeline.run` calls :meth:`write` on a worker thread,
    one per independent sink chain, while other chains write. A sink
    object used in two chains — or two sinks with the same ``path`` or
    ``table`` attribute — is written from one thread, in declared order,
    so a subclass that writes elsewhere should expose its target under
    one of those names. :meth:`flush` and ``on_flush`` hooks never run at
    the same time as each other or as a run's ``on_event`` callback."""

    def __init__(
        self,
        on_flush: Callable[[str], None] | None = None,
        force_flush: bool = False,
        returning: bool = False,
    ):
        self._on_flush = on_flush
        self.force_flush = force_flush
        self.returning = returning

    def write(self, df: DataFrame) -> "DataFrame | None":
        raise NotImplementedError

    def flush(self, status: str) -> None:
        """Called once after the write action with 'clean'/'exception'."""
        if self._on_flush:
            self._on_flush(status)


class NoOpSink(Sink):
    """Swallow records (``NoOpLoader.php:24-27``) — still runs the full plan
    via the noop format, making it the benchmark sink of choice."""

    def write(self, df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()


class CollectSink(Sink):
    """Collect rows to the driver — the test-harness sink (the reference's
    mocked InsertLoader analogue, ``tests/TestCase.php:112-133``).
    Driver-side by definition; for tests and tiny results only."""

    def __init__(self, **kw):
        super().__init__(**kw)
        self.rows: list | None = None

    def write(self, df: DataFrame) -> None:
        self.rows = df.collect()
