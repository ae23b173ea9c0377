"""Pipeline — the YaEtl grammar compiled to DataFrame lineage.

Reference grammar (``/root/reference/src/YaEtl.php:89-229``)::

    (new YaEtl)->from($e)->join($j,$e,$on)->qualify($q)
               ->transform($t)->to($l)->branch($flow)->exec();

Spark-first equivalent::

    (Pipeline(spark)
        .from_(ParquetSource(path))
        .join(ParquetSource(dim), OnClause("key"), how="left")
        .qualify(F.col("x") > 0)
        .transform(Rename({"a": "b"}))
        .to(ParquetSink(out))
        .branch(child)          # fan-out over the shared upstream
        .run())

Execution model: every grammar call composes *lazy* DataFrame
transformations; ``run()`` triggers one write action per sink. With
multiple sinks/branches the shared upstream is persisted and built once
(one materialization job) so the slow extract runs once (the reference's
whole reason for branches, ``README.md:219-246``); then every independent
sink chain — the root's sinks, each branch's, each reject stream's —
writes on its own thread, so the chains' jobs share the cluster at the
same time instead of queueing one after another. ``run()`` returns a
stats report with the reference's counter vocabulary
(``num_extract``/``num_transform``/…, ``YaEtl.php:38-53``) sourced from
``df.observe`` metrics — observed on the executors, no second pass over
the data.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from .operators.joins import OnClause, join as _join
from .operators.qualifiers import Predicate, Qualifier, as_condition
from .operators.transformers import Apply, Transformer
from .sinks.base import NoOpSink, Sink
from .sources.base import DataFrameSource, Source


class PipelineError(Exception):
    pass


def _inherit(spark: SparkSession, fn: Callable) -> Callable:
    """``fn`` wrapped to run on another thread with this thread's Spark
    local properties (job group, description, scheduler pool) and session
    tags, copied now."""
    wrap = inheritable_thread_target(spark)
    # with pinned-thread mode off PySpark hands the session back unwrapped
    return fn if wrap is spark else wrap(fn)


def _serial_groups(chains: list[list[Sink]]) -> list[list[int]]:
    """Chain indices grouped so that chains sharing a sink object or a
    target (``path``/``table`` attribute) fall in one group: two writers
    committing into one directory or table at once race (and
    :class:`MergeParquetSink` swaps directories next to its ``path``).
    Groups come in order of their first chain, members in declared
    order."""
    groups: list[tuple[set, list[int]]] = []
    for i, sinks in enumerate(chains):
        keys = {("sink", id(s)) for s in sinks} | {
            ("target", v) for s in sinks for a in ("path", "table")
            if (v := getattr(s, a, None)) is not None}
        hits = [g for g in groups if g[0] & keys]
        for g in hits:
            groups.remove(g)
            keys |= g[0]
        groups.append((keys, sorted([i, *(c for g in hits for c in g[1])])))
    return sorted((members for _, members in groups), key=lambda m: m[0])


class Pipeline:
    def __init__(
        self,
        spark: SparkSession | None = None,
        count_stages: bool = False,
    ):
        """``count_stages=True`` weaves one free ``observe`` counter into
        the lineage after EVERY grammar stage (from_/join/qualify/
        transform) plus one per sink write, and the :meth:`run` report
        gains ``stage_records`` (per-node record counts, the reference's
        per-node ``num_exec``/``num_iterate`` matrix —
        ``src/YaEtl.php:38-53``, ``tests/QualifierTest.php:292-296``)
        and ``records`` (the reference counter vocabulary:
        ``num_extract``/``num_join``/``num_qualify``/``num_transform``/
        ``num_load`` as RECORD totals, node-call counts stay top-level).

        The flag lives on the constructor, not ``run()``, because the
        counters must be woven into the lineage as it is composed.
        Scale trade (why opt-in): each counter is a ``CollectMetrics``
        node computed during the normal write pass — no second pass over
        the data — but the optimizer will not push filters across one
        (the count must see the rows at that point), so stage-accurate
        counting pins the plan shape. Leave it off for production plans;
        turn it on to debug where records disappear. Branch lineages
        built as ``BranchPipeline(count_stages=True)`` report their own
        ``stage_records`` too (reference counts per-node inside branches,
        ``tests/QualifierTest.php:904-908``), surfaced in the parent
        report under ``b{i}_``-prefixed names.

        With ``count_stages`` on, :meth:`run` is SINGLE-SHOT per
        composed Pipeline: a PySpark ``Observation`` captures only its
        first action, so a second ``run()`` would silently report the
        first run's counters — it raises instead. Recompose (or leave
        counting off) to re-run.

        ``num_extract`` counts records PER EXTRACTOR (observed on each
        incoming source frame BEFORE union/crossJoin combination), the
        reference's per-extractor record semantics; every other stage
        counter observes the records LEAVING that stage.
        """
        if spark is None:
            from .session import get_spark

            spark = get_spark()
        self.spark = spark
        self._count_stages = bool(count_stages)
        self._ran = False
        # (name, kind, observation): kind keys the records-total bucket,
        # name is the per-stage report key
        self._stage_obs: list[tuple[str, str, Observation]] = []
        self._df: DataFrame | None = None
        self._sinks: list[Sink] = []
        self._branches: list["Pipeline"] = []
        self._observations: list[tuple[str, Observation]] = []
        self._counters = {
            "num_from": 0,
            "num_join": 0,
            "num_qualify": 0,
            "num_transform": 0,
            "num_to": 0,
            "num_branch": 0,
        }
        # a StopWhen qualifier marks the flow break-truncated: sinks then
        # flush 'dirty', the reference's "one node broke the flow" status
        # (LoaderAbstract.php:61-87, docs/callbacks.md:27-48)
        self._dirty = False
        # BreakAt bookkeeping: trigger-count observations (dirty only if a
        # break actually fired) and branch-declared root-targeted breaks
        self._break_obs: list[Observation] = []
        self._root_breaks: list[tuple[int, Any]] = []
        # qualify(reject_to=...) capture: (rejected frame, sink) pairs,
        # written + flushed alongside the regular sink chains at run()
        self._reject_chains: list[tuple[DataFrame, Sink]] = []

    # Deferred-op list: None on a rooted flow, where every grammar step is
    # applied as it is composed; BranchPipeline sets it to a list.
    _ops: list[Callable[[DataFrame], DataFrame]] | None = None

    # -- grammar --------------------------------------------------------------
    def _push(self, op: Callable[[DataFrame], DataFrame],
              stage: str | None = None) -> "Pipeline":
        """Land one grammar step: a rooted flow applies ``op`` now, a branch
        defers it to run() (:meth:`_apply_to`). ``stage`` names the node
        counter to bump and, with count_stages on, the record counter."""
        if self._ops is None:
            self._df = op(self._require_df())
        else:
            self._ops.append(op)
        if stage is not None:
            self._counters[f"num_{stage}"] += 1
            if self._count_stages:
                self._push(self._stage_counter(stage))
        return self

    @property
    def _obs_tag(self) -> str:  # names stay unique once grafted onto the root plan
        return "" if self._ops is None else f"br_{id(self)}_"

    def _stage_counter(self, kind: str,
                       into: list | None = None) -> Callable[[DataFrame], DataFrame]:
        """Record counter for one stage, registered in ``into`` (default:
        the stage list) now so its report name is stable; the returned op
        attaches it — a CollectMetrics node evaluated during the write."""
        into = self._stage_obs if into is None else into
        name = f"{kind}_{len(into)}"
        obs = Observation(f"_stage_{self._obs_tag}{name}")
        into.append((name, kind, obs))

        def op(df: DataFrame) -> DataFrame:
            return df.observe(obs, F.count(F.lit(1)).alias("n"))

        # marker lets the root-break trigger replay skip this op: an
        # Observation attaches once, and the eager trigger job must not
        # consume (or mis-capture) the branch's stage counters
        op._stage_obs = True  # type: ignore[attr-defined]
        return op

    def _require_df(self) -> DataFrame:
        if self._df is None:
            raise PipelineError("call from_() before adding downstream nodes")
        return self._df

    def _coerce_source(self, source: Source | DataFrame) -> DataFrame:
        if isinstance(source, DataFrame):
            return source
        if isinstance(source, Source):
            return source.read(self.spark)
        raise TypeError(f"expected Source or DataFrame, got {type(source)!r}")

    def from_(
        self,
        source: Source | DataFrame,
        aggregate_with: bool = False,
    ) -> "Pipeline":
        """Add a record source. ``aggregate_with=True`` unions with the
        current source (AggregateExtractor parity, ``YaEtl.php:305-340``);
        a second plain ``from_`` is a cross join (sequential re-extraction
        per upstream record, ``README.md:140-168`` — SURVEY.md §2.7)."""
        df = self._coerce_source(source)
        self._counters["num_from"] += 1
        if self._count_stages:
            # observe the INCOMING source frame before it is combined so
            # num_extract counts per-extractor records (the reference's
            # per-extractor semantics, YaEtl.php:38-53) — observing after
            # a union/crossJoin would double-count the upstream stream
            df = self._stage_counter("extract")(df)
        if self._df is None:
            self._df = df
        elif aggregate_with:
            self._df = self._df.unionByName(df, allowMissingColumns=True)
        elif self._count_stages:
            # under a CartesianProduct each side re-executes once per
            # partition of the other, so the stage Observations would
            # multiply (nondeterministically, by partition count).
            # Broadcasting the incoming side pins BroadcastNestedLoopJoin:
            # the build side executes exactly once and the streamed side
            # once per own partition — both counters exact. This matches
            # the reference's sequential-from_ model (a small inner
            # source re-extracted per upstream record, README.md:140-168)
            # and is one more way count_stages pins the plan shape; a
            # too-large inner source belongs in join()/unionByName anyway.
            self._df = self._df.crossJoin(F.broadcast(df))
        else:
            self._df = self._df.crossJoin(df)
        return self

    def observe(self, name: str, *exprs: Column) -> "Pipeline":
        """Attach named metrics computed during the write pass."""
        obs = Observation(name)
        self._df = self._require_df().observe(obs, *exprs)
        self._observations.append((name, obs))
        return self

    def qualify(
        self,
        condition: Qualifier | Column | str | Callable,
        reject_to: Sink | None = None,
    ) -> "Pipeline":
        """Keep rows satisfying ``condition``. With ``reject_to``, the
        rows this stage DROPS (condition false or NULL) are captured as
        a side stream and written to the given sink at :meth:`run` —
        the quarantine / dead-letter pattern the reference's skip-style
        qualifiers silently discard
        (``src/Qualifiers/QualifierAbstract.php:61-81`` drops the
        record and moves on; here the drop is observable). The reject
        sink participates in the normal flush protocol and the run
        report gains ``num_rejected``.

        ``reject_to`` needs a condition-expressible predicate (Column /
        SQL string / ``df -> Column`` callable / :class:`Predicate`);
        flow interrupts (:class:`StopWhen` / :class:`BreakAt`) truncate
        the stream rather than reject rows, and opaque qualifiers don't
        expose a negatable condition — both raise. Scale note: the
        reject stream re-runs the upstream lineage up to this stage
        (same cost model as a branch over an unpersisted mid-chain
        frame); rejects captured here do not see a run-time
        root-targeted break's truncation. Reject capture is root-only: a
        branch ``qualify(..., reject_to=...)`` raises.
        """
        from .operators.qualifiers import BreakAt, StopWhen

        # Predicate, callable, Column and SQL string all reduce to a
        # per-frame Column; any other Qualifier applies itself
        opaque = isinstance(condition, Qualifier) and not isinstance(
            condition, Predicate)
        if reject_to is not None:
            if self._ops is not None:
                raise PipelineError(
                    "reject_to is root-only: a branch cannot capture rejects")
            if isinstance(condition, (StopWhen, BreakAt)):
                raise PipelineError(
                    "reject_to only applies to row-wise keep/skip "
                    "conditions; StopWhen/BreakAt truncate the flow "
                    "instead of rejecting individual rows"
                )
            if opaque:
                raise PipelineError(
                    "reject_to needs a condition-expressible qualifier "
                    "(Column / SQL string / callable / Predicate) — "
                    f"{type(condition).__name__} does not expose a "
                    "negatable condition"
                )
        if isinstance(condition, StopWhen):
            self._dirty = True
            op = condition.apply
        elif isinstance(condition, BreakAt) and (
            condition.target == "root" and self._ops is not None
        ):
            # recorded for run(): the cut is computed over this branch's
            # lineage up to here, then truncates the shared flow. No local
            # op (that truncation covers this branch), so nothing to count.
            self._counters["num_qualify"] += 1
            self._root_breaks.append((len(self._ops), condition))
            return self
        elif isinstance(condition, BreakAt):

            def op(df: DataFrame) -> DataFrame:
                # dirty only if the break actually fires: count trigger
                # rows via a free observation on the pre-truncation frame
                # (all pre rows flow through it — the cut join's probe
                # side). Created per application: a branch replays its ops
                # on every run, and an Observation attaches once.
                obs = Observation(
                    f"_break_{self._obs_tag}{len(self._break_obs)}")
                self._break_obs.append(obs)
                pre = df.observe(
                    obs, F.count(F.when(condition._cond(), 1)).alias("n_trig")
                )
                return condition.apply(pre)

        elif opaque:
            op = condition.apply
        else:
            raw = condition.condition if isinstance(condition, Predicate) else condition

            def op(df: DataFrame) -> DataFrame:
                if callable(raw) and not isinstance(raw, Column):
                    cond = raw(df)
                else:
                    cond = as_condition(raw)
                if reject_to is not None:
                    # filter(cond) keeps TRUE rows; the complement (FALSE
                    # or NULL) is exactly what this captures
                    self._reject_chains.append(
                        (df.filter(~cond | cond.isNull()), reject_to))
                return df.filter(cond)

        return self._push(op, "qualify")

    def transform(
        self, transformer: Transformer | Callable[[DataFrame], DataFrame]
    ) -> "Pipeline":
        t = transformer if isinstance(transformer, Transformer) else Apply(transformer)
        return self._push(t.apply, "transform")

    def join(
        self,
        source: Source | DataFrame,
        on: OnClause | str | Sequence[str] | Mapping[str, str],
        how: str = "inner",
        broadcast: bool = False,
    ) -> "Pipeline":
        def op(df: DataFrame) -> DataFrame:
            # a branch reads its join source when run() replays the op
            right = self._coerce_source(source)
            return _join(df, right, on, how=how, broadcast=broadcast)

        return self._push(op, "join")

    def left_join(self, source, on, default_record=None, **kw) -> "Pipeline":
        clause = (
            on
            if isinstance(on, OnClause)
            else OnClause(on, default_record=default_record)
        )
        return self.join(source, clause, how="left", **kw)

    def limit(self, n: int) -> "Pipeline":
        return self._push(lambda df: df.limit(n))

    def offset(self, n: int) -> "Pipeline":
        return self._push(lambda df: df.offset(n))

    def to(self, sink: Sink) -> "Pipeline":
        if self._ops is None:
            self._require_df()
        self._counters["num_to"] += 1
        self._sinks.append(sink)
        return self

    def branch(self, child: "Pipeline") -> "Pipeline":
        """Embed a child pipeline over this pipeline's current DataFrame.

        The child must NOT have its own root source; at run time its
        lineage is grafted onto the shared (persisted) upstream — fan-out
        parity (``YaEtl.php:223-229``)."""
        self._require_df()
        self._counters["num_branch"] += 1
        self._branches.append(child)
        return self

    # -- execution ------------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """The composed DataFrame (for interactive use / explain)."""
        return self._require_df()

    def explain(self, mode: str = "formatted") -> None:
        self._require_df().explain(mode=mode)

    def run(
        self,
        on_event: Callable[[str, dict], None] | None = None,
        progress_interval: float | None = None,
        scale_gate: bool | dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Execute: one write action per sink (+ branch sinks). Returns the
        stats report. With no sink, runs a noop write so the flow is
        actually exercised (parity: a YaEtl flow always executes).

        Write order. Each ``qualify(reject_to=)`` stream starts on its own
        thread at once (it has its own lineage). With more than one root or
        branch sink, this thread then builds the persisted shared frame
        with one noop write; after that the root's chain and every
        branch's chain each start on their own thread. Rules:

        - sinks inside one chain run in declared order, so a returning
          sink feeds the next;
        - chains that share a sink object or a target (``path`` /
          ``table``) run on one thread, in declared order;
        - ``force_flush`` sinks flush right after their own write; every
          other started sink flushes at the end, in declared order
          (root's, then each branch's, then the reject sinks);
        - ``run()`` waits for every chain it started, then flushes,
          unpersists and re-raises the first failure in declared chain
          order; a failed chain stops, its siblings finish;
        - sink threads inherit this thread's Spark local properties (job
          group, description, scheduler pool) and session tags.

        ``on_event`` callbacks and ``on_flush`` hooks never overlap: they
        run one at a time behind one lock, whichever thread (a sink's, the
        progress poller's, this one) fires them.

        ``on_event`` receives (event, payload) callbacks mirroring the
        reference's event vocabulary (``src/Events/YaEtlEvent.php:17-37``):
        ``flow.start``, ``flow.flush`` (per sink), ``flow.success`` /
        ``flow.fail``. With ``progress_interval`` (seconds) set, a
        ``flow.progress`` event fires per active stage at that cadence,
        carrying (job, stage, tasks_done, tasks) from the status tracker —
        the ProgressBarSubscriber analogue
        (``src/Events/ProgressBarSubscriber.php:134-198``). Time-based
        throttling replaces the reference's every-1024-records progressMod:
        records don't tick one at a time in a vectorized engine, task
        completions do.

        ``scale_gate`` pre-flights the physical plan BEFORE any write:
        ``True`` runs :func:`yaetl_spark.plans.assert_scales` with
        defaults, a dict passes through as its kwargs (e.g.
        ``{"max_shuffles": 4, "allow_python": False}``; an empty dict
        gates with defaults, same as ``True``). On failure the
        flow raises without executing; on success the one-line plan
        summary lands in the report under ``"plan"``.
        """
        df = self._require_df()
        if self._ran and (
            self._count_stages
            or any(b._count_stages for b in self._branches)
            or self._observations
            or self._break_obs
        ):
            # Observations capture only their FIRST action; a second run
            # would silently report the first run's stage_records, user
            # observe() metrics, and BreakAt trigger counts (branch-level
            # BreakAt observations are re-created per replay and root
            # record counters are fresh per run, so a plain pipeline
            # stays re-runnable)
            raise PipelineError(
                "run() is single-shot once compose-time Observations are "
                "woven in (count_stages=True, observe(), or a root-flow "
                "BreakAt): PySpark Observations capture only their first "
                "action, so a second run would silently report the first "
                "run's metrics — recompose the pipeline to run again"
            )
        self._ran = True
        t0 = time.monotonic()
        # root-targeted breaks declared inside branches (BreakAt
        # target="root"): compute each cut eagerly (one-row job over the
        # branch's pre-break lineage), then truncate the SHARED flow with a
        # literal filter — pushdown-able, and sibling branches + root sinks
        # all see the truncated flow, matching the reference's root-targeted
        # break from inside a branch (tests/QualifierTest.php:570-648)
        broke = False
        for child in self._branches:
            for prefix_len, brk in child._root_breaks:
                trig_df = df
                for op in (child._ops or [])[:prefix_len]:
                    if getattr(op, "_stage_obs", False):
                        continue  # see _stage_counter: attach-once
                    trig_df = op(trig_df)
                cut_value = brk.cut(trig_df)
                if cut_value is not None:
                    df = brk.truncate(df, cut_value)
                    broke = True
        plan_info: str | None = None
        # identity, not truthiness: scale_gate={} means "gate with
        # defaults", exactly like True — only None/False skip the check
        if scale_gate is not None and scale_gate is not False:
            from .plans import assert_scales

            gate_kwargs = {} if scale_gate is True else dict(scale_gate)
            plan_info = str(assert_scales(df, **gate_kwargs))
        # break-truncated flows (StopWhen here or in a branch) flush dirty
        status = "dirty" if (
            broke or self._dirty or any(b._dirty for b in self._branches)
        ) else "clean"

        # one lock for every callback: sink threads, the progress poller
        # and this thread never run on_event or a flush hook at once
        lock = threading.RLock()

        def emit(event: str, **payload) -> None:
            if on_event is not None:
                with lock:
                    on_event(event, payload)

        emit("flow.start", counters=dict(self._counters))
        progress_stop = self._start_progress_poller(
            emit, progress_interval) if (
            on_event is not None and progress_interval) else None
        # record-count observation on the final frame, free during the write
        obs = Observation("_pipeline")
        df = df.observe(obs, F.count(F.lit(1)).alias("num_records"))

        # sink chains in declared order: the root's sinks over the root
        # frame, each branch's over its own lineage, then the reject
        # side-streams (independent lineage, captured pre-filter at their
        # qualify stage, so they neither consume nor justify the persist
        # below). Within a chain a returning sink's output feeds the next
        # sink (docs/citizens.md:465-496 chained loaders).
        chains: list[tuple[list[tuple[int, Sink, Callable | None]],
                           DataFrame]] = []
        declared: list[Sink] = []
        load_obs: list[tuple[str, str, Observation]] = []

        def add_chain(sinks: list[Sink], chain_df: DataFrame,
                      counted: bool) -> None:
            # one (position, sink, load counter) step per sink; counters
            # are named here, on the calling thread, so their report
            # names follow declared order
            steps = []
            for sink in sinks:
                count = (self._stage_counter("load", load_obs)
                         if counted else None)
                steps.append((len(declared), sink, count))
                declared.append(sink)
            chains.append((steps, chain_df))

        if self._sinks:
            add_chain(self._sinks, df, self._count_stages)
        executed_branches: list["Pipeline"] = []
        for child in self._branches:
            if child._df is not None:
                raise PipelineError("branch pipelines must not call from_()")
            if child._sinks:
                add_chain(child._sinks, child._apply_to(df),
                          self._count_stages)
                executed_branches.append(child)
        n_flow_chains, root_actions = len(chains), len(declared)
        reject_obs: list[Observation] = []
        for i, (rej_df, rej_sink) in enumerate(self._reject_chains):
            r_obs = Observation(f"_reject_{i}")
            # reject sinks stay out of num_load — their row count is
            # already reported as num_rejected
            add_chain([rej_sink],
                      rej_df.observe(r_obs, F.count(F.lit(1)).alias("n")),
                      False)
            reject_obs.append(r_obs)
        persisted = root_actions > 1
        if persisted:
            # shared upstream: extract once, fan out (README.md:219-246)
            df.persist(StorageLevel.MEMORY_AND_DISK)
        started: set[int] = set()
        forced: set[int] = set()
        errors: dict[int, BaseException] = {}

        def flush(sink: Sink, **extra) -> None:
            with lock:
                sink.flush(status)
                emit("flow.flush", sink=type(sink).__name__, status=status,
                     **extra)

        def write_group(group: list[int]) -> None:
            # chains sharing a sink or a target run here in declared order;
            # the group stops at its first failure, like the chain itself
            for c in group:
                steps, cur = chains[c]
                try:
                    for pos, sink, count in steps:
                        # registered BEFORE writing: a sink whose write
                        # fails still gets its flush('exception') — loaders
                        # always see the flow status (LoaderAbstract.php:
                        # 61-87). force_flush sinks flush right after their
                        # own write (YaEtl.php:148-153); everyone else
                        # defers to the root flush.
                        started.add(pos)
                        if count is not None:
                            cur = count(cur)
                        ret = sink.write(cur)
                        if sink.returning and ret is not None:
                            cur = ret
                        if sink.force_flush:
                            forced.add(pos)
                            flush(sink, forced=True)
                except BaseException as exc:
                    errors[c] = exc
                    return

        groups = _serial_groups(
            [[sink for _, sink, _ in steps] for steps, _ in chains])
        try:
            with ThreadPoolExecutor(max_workers=max(1, len(groups)),
                                    thread_name_prefix="yaetl-sink") as pool:

                def start(group: list[int]) -> None:
                    # each target carries its own copy of the caller's
                    # local properties (job group, pool) and session tags
                    pool.submit(_inherit(self.spark, write_group), group)

                # a group led by a reject chain holds only rejects: their
                # own lineage, so they start now
                for group in groups:
                    if group[0] >= n_flow_chains:
                        start(group)
                if persisted or not root_actions:
                    # build the shared frame once (or, with no sink, run
                    # the flow once: a YaEtl flow always executes)
                    NoOpSink().write(df)
                for group in groups:
                    if group[0] < n_flow_chains:
                        start(group)
            if errors:
                raise errors[min(errors)]
            # all writes done → every BreakAt observation has a value; a
            # lazy (self-target) break that actually fired dirties the flow
            if status == "clean":
                break_obs = self._break_obs + [
                    o for b in self._branches for o in b._break_obs
                ]
                if any((o.get.get("n_trig") or 0) > 0 for o in break_obs):
                    status = "dirty"
        except Exception as exc:
            status = "exception"
            emit("flow.fail", error=repr(exc))
            raise
        finally:
            if progress_stop is not None:
                progress_stop()
            for pos, sink in enumerate(declared):
                if pos in started and pos not in forced:
                    flush(sink)
            if persisted:
                df.unpersist()
        report: dict[str, Any] = {
            "status": status,
            "duration_sec": round(time.monotonic() - t0, 3),
            **self._counters,
        }
        report["num_records"] = obs.get.get("num_records")
        if reject_obs:
            report["num_rejected"] = sum(
                o.get.get("n") or 0 for o in reject_obs
            )
        if plan_info is not None:
            report["plan"] = plan_info
        branch_obs: list[tuple[str, str, Observation]] = []
        for i, child in enumerate(self._branches):
            # only branches whose chain actually ran have computed
            # observations (an attached-but-unexecuted one blocks on get)
            if child in executed_branches:
                branch_obs.extend(
                    (f"b{i}_{name}", kind, o)
                    for name, kind, o in child._stage_obs
                )
        if self._stage_obs or load_obs or branch_obs:
            # per-node record counts + the reference's RECORD-counter
            # vocabulary (num_extract/num_join/num_qualify/num_transform/
            # num_load, YaEtl.php:38-53); node-CALL counts stay top-level.
            # Branch stages land with a b{i}_ prefix and roll into the
            # same totals (QualifierTest.php:904-908 counts inside
            # branches too).
            stage_records: dict[str, Any] = {}
            totals = {k: 0 for k in (
                "num_extract", "num_join", "num_qualify",
                "num_transform", "num_load")}
            for name, kind, o in self._stage_obs + load_obs + branch_obs:
                n = o.get.get("n")
                stage_records[name] = n
                if n is not None:
                    totals[f"num_{kind}"] += n
            report["stage_records"] = stage_records
            # the totals dict claims the reference's FULL record-counter
            # vocabulary; with only branch-level counters on (parent
            # count_stages=False) num_extract/num_load would read 0
            # despite extracts/loads having run — emit per-stage counts
            # only, totals need the parent's counters
            if self._count_stages:
                report["records"] = totals
        for name, o in self._observations:
            report[f"observe_{name}"] = o.get
        emit("flow.success", report=dict(report))
        return report

    def _start_progress_poller(
        self, emit: Callable[..., None], interval: float
    ) -> Callable[[], None]:
        """Poll the status tracker on a daemon thread, emitting
        ``flow.progress`` per active stage. Returns a stop() that joins the
        thread. Driver-side observation only — zero executor overhead."""
        stop_evt = threading.Event()
        tracker = self.spark.sparkContext.statusTracker()

        def poll() -> None:
            while not stop_evt.wait(interval):
                try:
                    for jid in tracker.getActiveJobsIds():
                        info = tracker.getJobInfo(jid)
                        for sid in (info.stageIds if info else []):
                            si = tracker.getStageInfo(sid)
                            if si and si.numTasks:
                                emit(
                                    "flow.progress",
                                    job=jid,
                                    stage=sid,
                                    tasks_done=si.numCompletedTasks,
                                    tasks=si.numTasks,
                                )
                except Exception:  # py4j races as jobs finish: drop tick
                    continue

        t = threading.Thread(
            target=poll, name="yaetl-progress", daemon=True)
        t.start()

        def stop() -> None:
            stop_evt.set()
            t.join(timeout=2)

        return stop

    def _apply_to(self, parent_df: DataFrame) -> DataFrame:
        """Branch lineage: replay deferred ops onto the shared upstream."""
        if self._ops is None:
            raise PipelineError("branches must be BranchPipeline instances")
        df = parent_df
        for op in self._ops:
            df = op(df)
        return df

    def collect(self) -> list:
        return self._require_df().collect()


class BranchPipeline(Pipeline):
    """Sourceless pipeline for ``parent.branch(child)`` fan-out over a
    shared persisted upstream: the same grammar as :class:`Pipeline` minus
    ``from_``/``observe``/``reject_to``, each step deferred as an op that
    the parent's run() replays onto that upstream."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        count_stages: bool = False,
    ):
        """``count_stages=True`` weaves a record counter after every
        deferred grammar op, reported by the PARENT run() under
        ``b{i}_``-prefixed stage names (reference counts per-node inside
        branches, ``tests/QualifierTest.php:904-908``). The branch's
        counters only materialize if the branch has a sink (otherwise
        its lineage never runs)."""
        super().__init__(spark, count_stages=count_stages)
        self._ops = []

    def _require_df(self) -> DataFrame:  # grammar guard not applicable
        raise PipelineError("BranchPipeline composes lazily; no df until run")

    def from_(self, *a, **kw):
        raise PipelineError("branch pipelines must not call from_()")
