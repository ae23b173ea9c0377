"""Structured Streaming layer (beyond-reference — SURVEY.md §2.11).

The reference is batch-only; the engine adds a streaming grammar mirroring
the batch Pipeline: source → watermark → windowed aggregation / stateful
op → sink. Late data is handled by watermarks; sinks commit per epoch via
``foreachBatch`` (the streaming analogue of the reference's ``flush()``,
``/root/reference/src/YaEtl.php:349-363``).

Window helpers return *batch-compatible* expressions (``F.window`` works
in both modes) so every windowed query can be verified against the DuckDB
oracle in batch mode and run unchanged as a stream.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.qualifiers import as_condition
from ..session import epoch_seconds, is_ntz, to_instant


def _watermarkable(df: DataFrame, time_col: str) -> DataFrame:
    """Streaming watermarks require TIMESTAMP
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on TIMESTAMP_NTZ) — convert
    the canonical NTZ event time to its instant tz-invariantly
    (session.to_instant pure arithmetic) on the streaming path only;
    batch keeps NTZ wall-clock semantics."""
    if df.isStreaming and is_ntz(df, time_col):
        return df.withColumn(time_col, to_instant(time_col))
    return df


def _window_agg(
    df: DataFrame,
    time_col: str,
    window: Column,
    aggs: Sequence[Column],
    extra_keys: list[str] | None,
    watermark: str | None,
) -> DataFrame:
    """Group ``df`` by ``window`` (plus ``extra_keys``); the window
    bounds come out as ``window_start``/``window_end`` epoch seconds."""
    df = _watermarkable(df, time_col)
    if watermark and df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    keys = [window.alias("_w")] + [F.col(k) for k in (extra_keys or [])]
    out = df.groupBy(*keys).agg(*aggs)
    # epoch_seconds (not unix_timestamp): window bounds inherit the
    # input's type, and for the engine's canonical NTZ event time a
    # session-tz cast would shift every epoch under a non-UTC driver
    # session (the r10 verdict's reproduced hazard)
    ntz = is_ntz(df, time_col)
    return out.select(
        epoch_seconds(F.col("_w.start"), ntz=ntz).alias("window_start"),
        epoch_seconds(F.col("_w.end"), ntz=ntz).alias("window_end"),
        *[c for c in out.columns if c != "_w"],
    )


def tumbling_window_agg(
    df: DataFrame,
    time_col: str,
    duration: str,
    *aggs: Column,
    extra_keys: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window aggregation, batch- and stream-compatible.

    Emits ``window_start``/``window_end`` as epoch seconds (bigint) so the
    result is engine-portable (timestamps hash differently across engines;
    integers don't).
    """
    return _window_agg(df, time_col, F.window(F.col(time_col), duration),
                       aggs, extra_keys, watermark)


def sliding_window_agg(
    df: DataFrame,
    time_col: str,
    duration: str,
    slide: str,
    *aggs: Column,
    extra_keys: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    return _window_agg(df, time_col,
                       F.window(F.col(time_col), duration, slide),
                       aggs, extra_keys, watermark)


def session_window_agg(
    df: DataFrame,
    time_col: str,
    gap: str,
    *aggs: Column,
    extra_keys: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-based); streaming requires a watermark."""
    return _window_agg(df, time_col,
                       F.session_window(F.col(time_col), gap),
                       aggs, extra_keys, watermark)


def dedup_within_watermark(
    df: DataFrame, keys: list[str], time_col: str, watermark: str
) -> DataFrame:
    """Streaming exact dedup bounded by the watermark (state stays finite)."""
    if df.isStreaming:
        df = _watermarkable(df, time_col)
        return df.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return df.dropDuplicates(keys)


def stream_psi(
    df: DataFrame,
    reference: DataFrame,
    value_col: str,
    time_col: str = "ts",
    duration: str = "1 day",
    bins: int = 10,
    laplace: float = 0.5,
    watermark: str | None = None,
    ref_value_col: str = "value",
    ref_weight_col: str = "weight",
    round_to: int = 9,
    max_reference_rows: int = 100_000,
) -> DataFrame:
    """Per-event-time-window PSI drift of a (possibly streaming) value
    column against a PERSISTED reference distribution — the live
    monitoring form of
    :func:`~yaetl_spark.operators.sketches.summary_psi`: build the
    reference summary once (:func:`~yaetl_spark.operators.sketches.
    equidepth_summary` on the blessed corpus/period), persist it, and
    watch every window of the feed score against it.

    ``reference`` is any weighted value table (the equidepth summary's
    ``(value, weight)`` grain). Its quantile cuts at mass ``i/bins``
    and its per-bin masses are computed ONCE at plan time with the
    same exact integer arithmetic as ``summary_psi`` (targets
    ``ceil(n_ref·i/bins)``, bin = 1 + #cuts strictly below v, Laplace
    smoothing, bin-ordered DECIMAL(38,round_to) term sum — so a SQL
    oracle reproduces psi bit-for-bit) and embedded as LITERALS: the
    streaming plan has NO join and its only state is the windowed
    aggregate's ``bins + 1`` counters per window — the same
    bounded-state shape as :func:`tumbling_window_agg`. The driver
    action on ``reference`` is |summary|-sized (the codebook-literal
    pattern), never the raw corpus.

    Emits ``(window_start, window_end, n_events, psi)`` per window
    (epoch seconds, engine-portable); windows only exist where at
    least one non-NULL value arrived, so ``psi`` is never NULL.
    Interpretation anchors as in ``summary_psi``: < 0.1 stable,
    0.1–0.25 moderate shift, > 0.25 action.

    ``max_reference_rows`` bounds the plan-time digest: passing a raw
    corpus instead of a summary raises an actionable ``ValueError``
    (one cheap count job) rather than OOMing the driver on the
    collect. Set ``None`` to skip the probe when the caller has
    already counted. ``bins``/``round_to`` are validated against the
    decimal-fold precision ceiling (``11 + round_to + bins - 1 <= 38``)
    so an over-wide fold raises instead of silently losing scale.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if 11 + round_to + bins - 1 > 38:
        # The per-window psi is a fixed-order column FOLD of
        # decimal(11+round_to, round_to) terms (see below), and Spark's
        # decimal addition grows precision by 1 per add: past precision
        # 38 it silently SHRINKS the scale (DecimalPrecision
        # adjustedScale) instead of erroring, corrupting psi exactly
        # where the rounding contract promises round_to digits.
        raise ValueError(
            f"bins={bins} with round_to={round_to} overflows the "
            f"decimal fold (11 + round_to + bins - 1 = "
            f"{11 + round_to + bins - 1} > 38): lower bins to at most "
            f"{28 - round_to} or lower round_to"
        )
    if not laplace > 0:
        raise ValueError(
            "laplace must be > 0 (smoothing keeps empty bins out of "
            "ln(0) — pass e.g. 0.5)")
    if max_reference_rows is not None:
        # Misuse guard: `reference` is contractually a PERSISTED
        # summary (|summary| rows), and the digest below is a driver
        # collect. Passing the raw 100 TB corpus here would OOM the
        # driver, not raise — turn that into an actionable error first
        # (one bounded count job; same philosophy as
        # similarity._guard_cell_population).
        probe = reference.limit(max_reference_rows + 1).count()
        if probe > max_reference_rows:
            raise ValueError(
                f"reference has more than {max_reference_rows} rows — "
                "stream_psi expects a persisted summary (e.g. "
                "equidepth_summary output), not a raw corpus; "
                "summarize the reference first, or raise "
                "max_reference_rows if the driver can hold it"
            )
    # ---- plan-time reference digest (|summary|-bounded collect) ----
    pts: dict[float, int] = {}
    for r in reference.select(ref_value_col, ref_weight_col).collect():
        if r[0] is None or r[1] is None:
            continue
        w = int(r[1])
        if w < 0:
            raise ValueError(
                f"negative {ref_weight_col!r} in reference summary")
        v = float(r[0])
        pts[v] = pts.get(v, 0) + w
    n_ref = sum(pts.values())
    if n_ref <= 0:
        raise ValueError("reference summary is empty (zero total weight)")
    vals = sorted(pts)
    cum_at = []
    cum = 0
    for v in vals:
        cum += pts[v]
        cum_at.append((v, cum))
    cuts = []
    for i in range(1, bins):
        target = (n_ref * i + bins - 1) // bins  # exact ceil, int64-safe
        cuts.append(next(v for v, c in cum_at if c >= target))
    ref_mass = [0] * (bins + 1)
    for v in vals:
        ref_mass[1 + sum(1 for e in cuts if v > e)] += pts[v]
    p_ref = [
        (ref_mass[i] + laplace) / (n_ref + laplace * bins)
        for i in range(1, bins + 1)
    ]
    # ---- the (batch- and stream-compatible) windowed score ----
    val = F.col(value_col).cast("double")
    cuts_arr = F.array(*[F.lit(float(c)) for c in cuts])
    binned = df.filter(F.col(value_col).isNotNull()).withColumn(
        "_psi_bin",
        F.lit(1) + F.size(F.filter(cuts_arr, lambda e: val > e)),
    )
    aggs = [F.count(F.lit(1)).alias("n_events")] + [
        F.sum(F.when(F.col("_psi_bin") == i, 1).otherwise(0))
        .cast("bigint").alias(f"_mb{i}")
        for i in range(1, bins + 1)
    ]
    out = _window_agg(binned, time_col, F.window(F.col(time_col), duration),
                      aggs, None, watermark)
    n = F.col("n_events").cast("double")
    terms = []
    for i in range(1, bins + 1):
        pb = (F.col(f"_mb{i}").cast("double") + F.lit(laplace)) / (
            n + F.lit(laplace * bins))
        pa = F.lit(p_ref[i - 1])
        # DECIMAL(20,9), NOT (38,9): this is a row-wise fixed-order
        # FOLD (the bins are columns of one row), and Spark's decimal
        # addition grows precision by 1 per add — at (38,9) the very
        # first add overflows precision 38 and silently SHRINKS the
        # scale toward 6 (DecimalPrecision adjustedScale), corrupting
        # psi in the 6th decimal. At (20,9) the fold ends at
        # (20+bins-1, 9): scale-exact up to the validated ceiling
        # (the bins/round_to guard above rejects folds that would pass
        # precision 38), and 11 integer digits dwarf any PSI term. The
        # siblings' F.sum aggregates keep (38,9) because SUM widens
        # without chaining.
        terms.append(
            F.round((pa - pb) * F.log(pa / pb), round_to)
            .cast(f"decimal({11 + round_to},{round_to})"))
    psi = terms[0]
    for t in terms[1:]:
        psi = psi + t
    return out.select("window_start", "window_end", "n_events",
                      psi.cast("double").alias("psi"))


def stream_minhash_probe(
    stream: DataFrame,
    index: DataFrame,
    time_col: str = "ts",
    watermark: str = "1 day",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    jaccard_threshold: float | None = 0.8,
    seed: int = 42,
    shingle_mode: str = "word",
    hash_fn: str = "xxhash",
    index_id_col: str = "doc_id",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Near-dup matches of a LIVE document feed against a persisted
    :func:`~yaetl_spark.operators.dedup.minhash_index` — the streaming
    form of :func:`~yaetl_spark.operators.dedup.minhash_probe`, and
    the shape a deduplicating ingest service actually runs: build the
    index once from the blessed corpus, then every micro-batch of the
    feed is signatured (pure narrow expressions — stream-safe),
    banded identically, and stream-static equi-joined against the
    index on ``(band, bhash)``; candidate pairs verify by signature
    slot agreement exactly like the batch probe.

    Emits ``(probe_id, index_id, jaccard_sim)`` per matched pair.
    Multi-band hits of the same pair are collapsed by a
    ``dropDuplicatesWithinWatermark`` keyed on the pair — state is one
    row per EMITTED pair inside the watermark horizon (match rarity
    keeps it tiny), and a pair re-delivered beyond the horizon may
    re-emit (the at-least-once contract shared with
    :func:`dedup_within_watermark`). ``jaccard_sim`` is identical for
    every duplicate of a pair (same signatures), so which arrival the
    state keeps is unobservable in the output.

    On a BATCH ``stream`` this is row-for-row
    ``minhash_probe(index, stream, ...)`` (pinned by
    tests/test_streaming.py) — the family's batch-verifiability
    invariant, so a SQL oracle covers the streaming path too.

    Scale shape: the stream side is per-batch-sized; the index side is
    the static ~|corpus|·bands table — persist it
    ``partitionBy('band')``/bucketed by ``(band, bhash)`` so each
    micro-batch's join prunes to the probed bands' files. Signature
    parameters MUST match the ones the index was built with (they are
    pure arithmetic — a mismatch is garbage, not an error).
    """
    from ..operators.dedup import _probe_candidates, _verified

    df = _watermarkable(stream, time_col)
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    candidates = _probe_candidates(
        index, df, text_col, id_col, num_hashes, bands, shingle_size, seed,
        shingle_mode, hash_fn, index_id_col, exclude_same_id,
        carry=(time_col,),
    )
    matches = _verified(candidates, [time_col, "probe_id", "index_id"],
                        "sig_p", "sig_i", num_hashes, jaccard_threshold)
    if matches.isStreaming:
        deduped = matches.dropDuplicatesWithinWatermark(
            ["probe_id", "index_id"])
    else:
        deduped = matches.dropDuplicates(["probe_id", "index_id"])
    return deduped.select("probe_id", "index_id", "jaccard_sim")


def running_totals(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    time_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Custom stateful operator: per-key running (count, sum) maintained
    across epochs via ``applyInPandasWithState`` — the engine's template
    for operators Spark's built-ins can't express (SURVEY.md §7: custom
    stateful streaming).

    State is one (bigint, double) pair per key — O(distinct keys), not
    O(events); Arrow-batched, partitioned by key hash (each executor owns
    a key range; no cross-partition coordination).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if watermark and time_col and df.isStreaming:
        df = _watermarkable(df, time_col)
        df = df.withWatermark(time_col, watermark)

    key_fields = [f for f in df.schema.fields if f.name in keys]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in key_fields]
        + ["n_events bigint", "total_value double"]
    )
    state_schema = "cnt bigint, total double"

    def fn(key: tuple, pdfs, state: GroupState):
        cnt, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf[value_col].astype("float64").sum())
        state.update((cnt, total))
        yield pd.DataFrame(
            [dict(zip(keys, key), n_events=cnt, total_value=total)]
        )

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_sessionize(
    df: DataFrame,
    key: str,
    time_col: str,
    gap_seconds: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful sessionization with an event-time timeout — the
    template for operators where built-in ``session_window`` can't carry
    custom per-session state (e.g. emitting a session only once, when it
    CLOSES, with arbitrary session-level features).

    Per key, state holds (session_start, last_ts, n_events). An arriving
    batch extends the open session or closes it (gap exceeded → emit the
    closed session, open a new one). When no events arrive, the
    event-time timeout fires once the watermark passes last_ts + gap and
    the final session is emitted — state stays O(open sessions).

    Batch mode falls back to the equivalent session_window aggregation
    (same output schema), so the operator is oracle-checkable.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key} {dict(df.dtypes)[key]}, window_start bigint, "
        "window_end bigint, n_events bigint"
    )

    if not df.isStreaming:
        return session_window_agg(
            df, time_col, f"{gap_seconds} seconds",
            F.count(F.lit(1)).alias("n_events"), extra_keys=[key],
        ).select(key, "window_start", "window_end", "n_events")

    gap_ms = gap_seconds * 1000
    state_schema = "start_ms bigint, last_ms bigint, cnt bigint"

    # true epoch millis computed JVM-SIDE and shipped as a LONG: the
    # Arrow transfer into the state function localizes timestamps to
    # the SESSION timezone as naive datetime64, so parsing them in
    # pandas read the wall clock, not the instant — under a non-UTC
    # driver session every emitted epoch shifted by the zone offset
    # and the state timeout (compared against the true-epoch
    # watermark) misfired (r11 adversarial sweep). A bigint column
    # has no timezone to get wrong.
    df = _watermarkable(df, time_col)
    df = df.withColumn(
        "_ms", (F.unix_micros(F.col(time_col)) / F.lit(1000))
        .cast("bigint"))

    def fn(key_tuple: tuple, pdfs, state: GroupState):
        closed: list[tuple[int, int, int]] = []
        if state.hasTimedOut:
            if state.exists:
                start_ms, last_ms, cnt = state.get
                closed.append((start_ms, last_ms, cnt))
                state.remove()
        else:
            start_ms, last_ms, cnt = (
                state.get if state.exists else (None, None, 0)
            )
            ts_ms: list[int] = []
            for pdf in pdfs:
                ts_ms.extend(pdf["_ms"].astype("int64").tolist())
            for t in sorted(ts_ms):
                if start_ms is None:
                    start_ms, last_ms, cnt = t, t, 1
                elif t - last_ms >= gap_ms:
                    closed.append((start_ms, last_ms, cnt))
                    start_ms, last_ms, cnt = t, t, 1
                else:
                    last_ms, cnt = t, cnt + 1
            state.update((start_ms, last_ms, cnt))
            # the timeout must sit strictly beyond the current watermark
            # (closing stale sessions would otherwise throw)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms + gap_ms, wm + 1))
        yield pd.DataFrame(
            [
                {
                    key: key_tuple[0],
                    "window_start": s // 1000,
                    "window_end": (e + gap_ms) // 1000,
                    "n_events": n,
                }
                for s, e, n in closed
            ],
            columns=[key, "window_start", "window_end", "n_events"],
        )

    return (
        df.withWatermark(time_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    lower_seconds: int = 0,
    upper_seconds: int = 900,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join: pair each left row with right rows of the
    same key whose ``right_time`` falls in
    ``[left_time + lower, left_time + upper]`` — the click→conversion
    attribution shape.

    Streaming: both sides get the watermark, and the two-sided time bound
    is what lets Spark expire join state (without it, stream-stream join
    state grows forever — the bound IS the scale contract). Batch: the
    identical condition runs as an ordinary join, so the operator is
    oracle-checkable in DuckDB.

    Column names must be disjoint across the two sides (pre-alias before
    calling — self-joins always need that anyway).
    """
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"column overlap between sides: {sorted(overlap)}")
    if left.isStreaming:
        left = _watermarkable(left, left_time).withWatermark(
            left_time, watermark)
    if right.isStreaming:
        right = _watermarkable(right, right_time).withWatermark(
            right_time, watermark)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_time)
           >= F.col(left_time) + F.expr(f"INTERVAL {lower_seconds} SECONDS"))
        & (F.col(right_time)
           <= F.col(left_time) + F.expr(f"INTERVAL {upper_seconds} SECONDS"))
    )
    return left.join(right, cond, how)


class StreamPipeline:
    """Streaming mirror of the batch Pipeline grammar.

    ``from_stream`` accepts a streaming DataFrame (e.g. file source over
    the events table or ``rate`` source); transformations are regular
    Column ops; ``to_memory``/``to_foreach_batch`` start the query.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._df: DataFrame | None = None

    def from_stream(self, df: DataFrame) -> "StreamPipeline":
        if not df.isStreaming:
            raise ValueError("from_stream expects a streaming DataFrame")
        self._df = df
        return self

    def from_files(
        self, path: str, fmt: str = "parquet", schema=None, **options
    ) -> "StreamPipeline":
        reader = self.spark.readStream.format(fmt)
        if schema is not None:
            reader = reader.schema(schema)
        for k, v in options.items():
            reader = reader.option(k, v)
        self._df = reader.load(path)
        return self

    def transform(self, fn: Callable[[DataFrame], DataFrame]) -> "StreamPipeline":
        self._df = fn(self._df)
        return self

    def qualify(self, cond: Column | str) -> "StreamPipeline":
        self._df = self._df.filter(as_condition(cond))
        return self

    @property
    def df(self) -> DataFrame:
        return self._df

    def to_memory(self, name: str, output_mode: str = "append"):
        """Memory sink (tests): returns the StreamingQuery."""
        return (
            self._df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )

    def to_files(
        self, path: str, fmt: str = "parquet", checkpoint: str | None = None,
        output_mode: str = "append", partition_by: list[str] | None = None,
        **options,
    ):
        """Durable file sink: exactly-once append into a ``fmt`` directory
        (the streaming ParquetSink/OrcSink analogue). The checkpoint plus
        the sink's transaction log make replays idempotent — this is the
        production landing-zone path; defaults the checkpoint next to the
        output."""
        writer = (self._df.writeStream.format(fmt)
                  .outputMode(output_mode)
                  .option("path", path)
                  .option("checkpointLocation",
                          checkpoint or path.rstrip("/") + "_ckpt"))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        for k, v in options.items():
            writer = writer.option(k, v)
        return writer.start()

    def to_foreach_batch(
        self, fn: Callable[[DataFrame, int], None], output_mode: str = "update",
        checkpoint: str | None = None,
    ):
        """Per-epoch sink commit — the streaming flush() analogue."""
        writer = self._df.writeStream.foreachBatch(fn).outputMode(output_mode)
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer.start()

    def to_sink(
        self, sink, output_mode: str = "append",
        checkpoint: str | None = None,
    ):
        """Drive any *accumulating* batch Sink (JdbcSink upsert,
        MergeParquetSink, append-mode file sinks, chained sinks …) from
        the stream: each micro-batch epoch is handed to ``sink.write``
        via foreachBatch — one sink implementation serves both execution
        modes, the same unification the reference gets from a single
        Loader interface.

        An overwrite-mode sink is refused: every epoch would clobber the
        previous one and the output would silently hold only the last
        micro-batch. Use an upsert/merge sink or ``mode="append"``.

        Exactly-once caveat: foreachBatch gives at-least-once epochs on
        restart; pair with an idempotent sink (upsert/merge keyed
        writes) for effective exactly-once — the same contract the
        reference's flush() has."""
        if getattr(sink, "mode", None) == "overwrite":
            raise ValueError(
                "to_sink: an overwrite-mode sink keeps only the LAST "
                "micro-batch; use an upsert/merge sink or mode='append'"
            )

        def commit(df: DataFrame, _epoch: int) -> None:
            sink.write(df)

        return self.to_foreach_batch(
            commit, output_mode=output_mode, checkpoint=checkpoint)
