"""Core grammar tests — the reference's linear/join/branch flows
(SURVEY.md §3) re-expressed over the driver testdata."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from yaetl_spark import (
    BranchPipeline,
    CollectSink,
    MemorySource,
    OnClause,
    ParquetSource,
    Pipeline,
    PipelineError,
    Predicate,
    Rename,
    Replace,
    StopWhen,
)

from .conftest import table_path


def test_linear_flow(spark):
    """from → qualify → transform → to (reference tests/YaEtlTest.php:283-300)."""
    sink = CollectSink()
    report = (
        Pipeline(spark)
        .from_(ParquetSource(table_path("nation")))
        .qualify(F.col("n_regionkey") == 0)
        .transform(Rename({"n_name": "nation_name"}))
        .to(sink)
        .run()
    )
    assert report["status"] == "clean"
    assert report["num_records"] == len(sink.rows)
    assert all("nation_name" in r.asDict() for r in sink.rows)
    assert all(r.asDict().get("n_regionkey") == 0 for r in sink.rows)


def test_multi_sink_runs_once_per_sink(spark):
    s1, s2 = CollectSink(), CollectSink()
    report = (
        Pipeline(spark)
        .from_(ParquetSource(table_path("region")))
        .to(s1)
        .to(s2)
        .run()
    )
    assert report["num_to"] == 2
    assert [r for r in s1.rows] == [r for r in s2.rows]


def test_inner_join_skip_on_miss(spark):
    """Inner join drops unmatched probe rows (UniqueKeyExtractor parity)."""
    left = MemorySource([(1, "a"), (2, "b"), (3, "c")], "id int, v string")
    right = MemorySource([(2, "x"), (3, "y")], "id int, w string")
    sink = CollectSink()
    (
        Pipeline(spark)
        .from_(left)
        .join(right, "id", how="inner")
        .to(sink)
        .run()
    )
    got = sorted((r["id"], r["v"], r["w"]) for r in sink.rows)
    assert got == [(2, "b", "x"), (3, "c", "y")]


def test_left_join_with_defaults(spark):
    """Left join misses get the OnClause default record (OnClause.php:69-84)."""
    left = MemorySource([(1,), (2,), (3,)], "id int")
    right = MemorySource([(2, "x")], "id int, w string")
    sink = CollectSink()
    (
        Pipeline(spark)
        .from_(left)
        .left_join(right, "id", default_record={"w": "dflt"})
        .to(sink)
        .run()
    )
    got = sorted((r["id"], r["w"]) for r in sink.rows)
    assert got == [(1, "dflt"), (2, "x"), (3, "dflt")]


def test_left_join_preserves_real_nulls(spark):
    """A matched row whose join-side value is NULL keeps NULL — defaults only
    fill genuine misses (pre-filled default-record parity)."""
    left = MemorySource([(1,), (2,)], "id int")
    right = MemorySource([(2, None)], "id int, w string")
    sink = CollectSink()
    (
        Pipeline(spark)
        .from_(left)
        .left_join(right, "id", default_record={"w": "dflt"})
        .to(sink)
        .run()
    )
    got = dict((r["id"], r["w"]) for r in sink.rows)
    assert got == {1: "dflt", 2: None}


def test_merger_right_overrides_left(spark):
    """array_replace merger parity: joined values override upstream on
    conflict (tests/YaEtlTest.php:126-134)."""
    left = MemorySource([(1, "L1"), (2, "L2")], "id int, v string")
    right = MemorySource([(1, "R1")], "id int, v string")
    sink = CollectSink()
    (
        Pipeline(spark)
        .from_(left)
        .left_join(right, "id")
        .to(sink)
        .run()
    )
    got = dict((r["id"], r["v"]) for r in sink.rows)
    # id=1: right overrides; id=2: right missed → left value kept
    assert got == {1: "R1", 2: "L2"}


def test_chained_joins(spark):
    """Joiner is itself joinable (tests/YaEtlTest.php:194-218)."""
    sink = CollectSink()
    (
        Pipeline(spark)
        .from_(ParquetSource(table_path("nation")))
        .join(ParquetSource(table_path("region")),
              {"n_regionkey": "r_regionkey"}, how="inner", broadcast=True)
        .join(ParquetSource(table_path("supplier")),
              {"n_nationkey": "s_nationkey"}, how="inner")
        .to(sink)
        .run()
    )
    assert sink.rows
    cols = set(sink.rows[0].asDict())
    assert {"n_name", "r_name", "s_name"} <= cols


def test_union_aggregate_source(spark):
    a = MemorySource([(1,)], "id int")
    b = MemorySource([(2,)], "id int")
    sink = CollectSink()
    (
        Pipeline(spark).from_(a).from_(b, aggregate_with=True).to(sink).run()
    )
    assert sorted(r["id"] for r in sink.rows) == [1, 2]


def test_aggregate_source_preserve_order_golden(spark):
    """AggregateExtractor consumption-order parity (README.md:170-197):
    with preserve_order=True the union comes out EXACTLY as the
    reference consumes it — shard 0's rows in their own order, then
    shard 1's — even when key order disagrees with shard order. The
    default path stays order-free (no sort barrier)."""
    from yaetl_spark.sources.aggregate import AggregateSource

    s1 = MemorySource([(3, "a3"), (1, "a1"), (2, "a2")], "k int, v string")
    s2 = MemorySource([(9, "b9"), (8, "b8")], "k int, v string")
    got = [tuple(r) for r in
           AggregateSource([s1, s2], preserve_order=True)
           .read(spark).collect()]
    assert got == [(3, "a3"), (1, "a1"), (2, "a2"), (9, "b9"), (8, "b8")]
    # shard order, not key order, drives the output
    rev = [tuple(r) for r in
           AggregateSource([s2, s1], preserve_order=True)
           .read(spark).collect()]
    assert rev == [(9, "b9"), (8, "b8"), (3, "a3"), (1, "a1"), (2, "a2")]
    # the tag columns never leak into the schema
    df = AggregateSource([s1, s2], preserve_order=True).read(spark)
    assert df.columns == ["k", "v"]
    # ordered=True keeps its promised _shard tag even when combined
    # with preserve_order (r10 ADVICE: the combination silently
    # dropped it); only the internal sequence column stays hidden
    both = AggregateSource(
        [s1, s2], ordered=True, preserve_order=True).read(spark)
    assert both.columns == ["k", "v", "_shard"]
    assert [tuple(r) for r in both.collect()] == [
        (3, "a3", 0), (1, "a1", 0), (2, "a2", 0),
        (9, "b9", 1), (8, "b8", 1)]
    # default path has no sort barrier in its plan
    plan = (AggregateSource([s1, s2]).read(spark)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Sort" not in plan


def test_sequential_from_is_cross_join(spark):
    """Second non-aggregated from_ == per-record re-extraction ==
    cross product (README.md:140-168, tests/QualifierTest.php:292-296)."""
    a = MemorySource([(1,), (2,)], "a int")
    b = MemorySource([(10,), (20,)], "b int")
    sink = CollectSink()
    (
        Pipeline(spark).from_(a).from_(b).to(sink).run()
    )
    assert len(sink.rows) == 4


def test_branch_fanout(spark):
    """Branches share one upstream; each runs its own qualify/transform/sink
    (README.md:219-246)."""
    evens, odds = CollectSink(), CollectSink()
    b1 = BranchPipeline(spark).qualify("id % 2 = 0").to(evens)
    b2 = BranchPipeline(spark).qualify("id % 2 = 1").transform(
        Rename({"id": "odd_id"})
    ).to(odds)
    report = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(10)], "id int"))
        .branch(b1)
        .branch(b2)
        .run()
    )
    assert report["num_branch"] == 2
    assert sorted(r["id"] for r in evens.rows) == [0, 2, 4, 6, 8]
    assert sorted(r["odd_id"] for r in odds.rows) == [1, 3, 5, 7, 9]


def test_branch_cannot_have_source(spark):
    with pytest.raises(PipelineError):
        BranchPipeline(spark).from_(MemorySource([(1,)], "id int"))


def test_stop_when_limits(spark):
    sink = CollectSink()
    (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(100)], "id int"))
        .qualify(StopWhen(max_records=7))
        .to(sink)
        .run()
    )
    assert len(sink.rows) == 7


def test_replace_defaults_and_overrides(spark):
    sink = CollectSink()
    (
        Pipeline(spark)
        .from_(MemorySource([(1, None), (2, "x")], "id int, v string"))
        .transform(Replace(defaults={"v": "d", "extra": 9}, overrides={"id": 0}))
        .to(sink)
        .run()
    )
    rows = sorted(
        ((r["v"], r["extra"], r["id"]) for r in sink.rows),
        key=lambda t: (t[0] is not None, t),
    )
    # present-but-null v stays null (fill_nulls=False default)
    assert rows == [(None, 9, 0), ("x", 9, 0)]


def test_observe_metrics(spark):
    report = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(10)], "id int"))
        .observe("input", F.count(F.lit(1)).alias("n"))
        .qualify("id < 3")
        .run()
    )
    assert report["observe_input"]["n"] == 10
    assert report["num_records"] == 3


def test_limit_offset(spark):
    sink = CollectSink()
    (
        Pipeline(spark)
        .from_(
            MemorySource([(i,) for i in range(10)], "id int")
        )
        .transform(lambda df: df.orderBy("id"))
        .offset(2)
        .limit(3)
        .to(sink)
        .run()
    )
    assert sorted(r["id"] for r in sink.rows) == [2, 3, 4]


def test_run_event_callbacks(spark, sf_dir):
    from yaetl_spark import ParquetSource, Pipeline
    from yaetl_spark.sinks import NoOpSink

    events = []
    (
        Pipeline(spark)
        .from_(ParquetSource(f"{sf_dir}/region.parquet"))
        .to(NoOpSink())
        .run(on_event=lambda e, p: events.append((e, p)))
    )
    names = [e for e, _ in events]
    assert names[0] == "flow.start"
    assert "flow.flush" in names
    assert names[-1] == "flow.success"
    success = dict(events)[ "flow.success"]
    assert success["report"]["status"] == "clean"


def test_chained_loader_uuid_consistent(spark):
    """Chained-loader parity (LoaderAbstract.php:28-35, docs/citizens.md:
    465-496): a UUID-assigning step feeding two sinks. run() persists the
    shared upstream when there is more than one action, so both sinks see
    the SAME nondeterministic UUIDs — the Spark equivalent of loader 1
    mutating the record loader 2 receives."""
    a, b = CollectSink(), CollectSink()
    (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(20)], "id int"))
        .transform(lambda df: df.withColumn("uid", F.expr("uuid()")))
        .to(a)
        .to(b)
        .run()
    )
    uids_a = {(r["id"], r["uid"]) for r in a.rows}
    uids_b = {(r["id"], r["uid"]) for r in b.rows}
    assert uids_a == uids_b  # re-computed lineage would differ
    assert len({u for _, u in uids_a}) == 20


def test_flush_gets_exception_status(spark):
    """A sink whose write blows up must still be flushed with status
    'exception' (flush always sees the flow status,
    LoaderAbstract.php:61-87); sinks that already wrote are flushed with
    the same failed status."""
    seen: list = []

    class Boom(CollectSink):
        def write(self, df):
            raise RuntimeError("boom")

    ok = CollectSink(on_flush=lambda s: seen.append(("ok", s)))
    boom = Boom(on_flush=lambda s: seen.append(("boom", s)))
    with pytest.raises(RuntimeError):
        (
            Pipeline(spark)
            .from_(MemorySource([(1,)], "id int"))
            .to(ok)
            .to(boom)
            .run()
        )
    assert ("ok", "exception") in seen
    assert ("boom", "exception") in seen


def test_progress_events_fire(spark):
    """flow.progress events stream from the status tracker while the write
    action runs (ProgressBarSubscriber.php:134-198 analogue; time-based
    throttling replaces the per-1024-records progressMod)."""
    import time as _t

    events: list = []

    def slow(df):
        @F.pandas_udf("long")
        def crawl(s):
            _t.sleep(0.3)
            return s

        return df.withColumn("id", crawl("id"))

    (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(64)], "id int"))
        .transform(lambda df: df.repartition(8))
        .transform(slow)
        .run(on_event=lambda e, p: events.append((e, p)),
             progress_interval=0.05)
    )
    progress = [p for e, p in events if e == "flow.progress"]
    assert progress, "no flow.progress events captured"
    assert all({"job", "stage", "tasks_done", "tasks"} <= set(p)
               for p in progress)
    # lifecycle events still intact and ordered around progress
    names = [e for e, _ in events]
    assert names[0] == "flow.start" and names[-1] == "flow.success"


def test_force_flush_orders_before_root_flush(spark):
    """force_flush sinks flush right after their own write; deferred sinks
    flush at end-of-flow (YaEtl.php:148-153, 349-393)."""
    order: list = []
    eager = CollectSink(on_flush=lambda s: order.append(("eager", s)),
                        force_flush=True)
    lazy = CollectSink(on_flush=lambda s: order.append(("lazy", s)))
    events: list = []
    (
        Pipeline(spark)
        .from_(MemorySource([(1,), (2,)], "id int"))
        .to(eager)
        .to(lazy)
        .run(on_event=lambda e, p: events.append((e, p)))
    )
    assert order == [("eager", "clean"), ("lazy", "clean")]
    forced = [p for e, p in events if e == "flow.flush" and p.get("forced")]
    assert len(forced) == 1
    assert eager.rows is not None and lazy.rows is not None


def test_flush_gets_dirty_status_on_stopwhen(spark):
    """A StopWhen-truncated flow flushes 'dirty' — the reference's "one
    node broke the flow" status (LoaderAbstract.php:61-87,
    docs/callbacks.md:27-48); untruncated flows stay 'clean'."""
    from yaetl_spark.operators import StopWhen

    seen: list = []
    sink = CollectSink(on_flush=lambda s: seen.append(s))
    report = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(10)], "id int"))
        .qualify(StopWhen(max_records=3))
        .to(sink)
        .run()
    )
    assert report["status"] == "dirty"
    assert seen == ["dirty"]
    assert len(sink.rows) == 3

    # branch-side StopWhen dirties the whole flow too
    seen2: list = []
    child = BranchPipeline(spark).qualify(StopWhen(max_records=1)).to(
        CollectSink(on_flush=lambda s: seen2.append(s)))
    report2 = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(5)], "id int"))
        .branch(child)
        .run()
    )
    assert report2["status"] == "dirty" and "dirty" in seen2


def test_chained_returning_sink_feeds_next_sink(spark):
    """Chained loaders (isAReturningVal, LoaderAbstract.php:28-35,
    docs/citizens.md:465-496): a returning sink's enriched output feeds
    the next sink — the UUID-assigning-loader pattern."""
    import uuid as uuidlib

    class UuidAssignSink(CollectSink):
        """Assigns a uuid per record, persists the mapping (here: driver
        list), returns the enriched, materialized frame."""

        def __init__(self, **kw):
            super().__init__(returning=True, **kw)

        def write(self, df):
            rows = [r.asDict() for r in df.collect()]
            for r in rows:
                r["uid"] = str(uuidlib.uuid4())
            self.rows = rows
            return df.sparkSession.createDataFrame(
                [tuple(r.values()) for r in rows],
                df.columns + ["uid"],
            )

    first = UuidAssignSink()
    second = CollectSink()
    report = (
        Pipeline(spark)
        .from_(MemorySource([(1, "a"), (2, "b")], "id int, v string"))
        .to(first)
        .to(second)
        .run()
    )
    assert report["status"] == "clean"
    assert {r["uid"] for r in second.rows} == {r["uid"] for r in first.rows}
    assert {(r["id"], r["v"]) for r in second.rows} == {(1, "a"), (2, "b")}

    # non-returning sinks keep feeding the original frame to the next sink
    plain, tail = CollectSink(), CollectSink()
    Pipeline(spark).from_(MemorySource([(3,)], "id int")).to(plain).to(tail).run()
    assert [r["id"] for r in tail.rows] == [3] and "uid" not in tail.rows[0].asDict()


def test_pipeline_grouped_map_to_clustered_sink(spark, tmp_path):
    """Round-3 integration: the Pipeline grammar drives a grouped-map
    Arrow transformer into a range-clustered parquet sink end-to-end."""
    from yaetl_spark.operators import GroupedPandasMap
    from yaetl_spark.sinks import ClusteredParquetSink
    from yaetl_spark.sources.files import ParquetSource
    from tests.conftest import SF_DIR

    def spread(pdf):
        lo = pdf["o_totalprice"].min()
        pdf["rel"] = pdf["o_totalprice"] - lo
        return pdf[["o_custkey", "o_totalprice", "rel"]]

    out = str(tmp_path / "clustered_orders")
    report = (
        Pipeline(spark)
        .from_(ParquetSource(f"{SF_DIR}/orders.parquet"))
        .transform(GroupedPandasMap(
            ["o_custkey"], spread,
            "o_custkey long, o_totalprice double, rel double"))
        .to(ClusteredParquetSink(out, cluster_by=["o_custkey"], num_files=4))
        .run()
    )
    assert report["status"] == "clean"
    back = spark.read.parquet(out)
    batch = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert back.count() == batch.count()
    assert back.filter(F.col("rel") < 0).count() == 0


def test_qualify_reject_to_quarantine(spark):
    """reject_to captures exactly the rows the keep filter drops (false
    AND null-condition rows), writes them through the normal sink/flush
    protocol, and reports num_rejected."""
    statuses: list[str] = []
    kept = CollectSink()
    rejected = CollectSink(on_flush=statuses.append)
    src = MemorySource(
        [(1, 10.0), (2, None), (3, 3.0), (4, 99.0)], "id int, v double"
    )
    report = (
        Pipeline(spark)
        .from_(src)
        .qualify(F.col("v") > 5, reject_to=rejected)
        .to(kept)
        .run()
    )
    assert report["status"] == "clean"
    assert sorted(r["id"] for r in kept.rows) == [1, 4]
    # v=3.0 fails the predicate; v=NULL evaluates to NULL — both rejected
    assert sorted(r["id"] for r in rejected.rows) == [2, 3]
    assert report["num_records"] == 2
    assert report["num_rejected"] == 2
    assert statuses == ["clean"]


def test_qualify_reject_to_without_root_sink(spark):
    """Rejects-only flows still exercise the kept frame (noop write) so
    num_records resolves."""
    rejected = CollectSink()
    report = (
        Pipeline(spark)
        .from_(MemorySource([(1,), (2,), (3,)], "id int"))
        .qualify("id < 3", reject_to=rejected)
        .run()
    )
    assert report["num_records"] == 2
    assert report["num_rejected"] == 1
    assert [r["id"] for r in rejected.rows] == [3]


def test_qualify_reject_to_rejects_flow_interrupts(spark):
    rejected = CollectSink()
    p = Pipeline(spark).from_(MemorySource([(1,)], "id int"))
    with pytest.raises(PipelineError, match="truncate the flow"):
        p.qualify(StopWhen(max_records=1), reject_to=rejected)


def test_count_stages_per_node_record_counters(spark):
    """Pipeline(count_stages=True): per-node record counts, the
    reference's per-node num_exec/num_iterate matrix
    (src/YaEtl.php:38-53, tests/QualifierTest.php:292-296) — every
    grammar stage reports the records leaving it, each sink the records
    loaded, and the `records` dict speaks the reference RECORD-counter
    vocabulary alongside the top-level node-CALL counters."""
    src = MemorySource([(i, i % 5) for i in range(100)], "id long, k long")
    sink_a, sink_b = CollectSink(), CollectSink()
    report = (
        Pipeline(spark, count_stages=True)
        .from_(src)
        .qualify(F.col("k") < 3)              # 100 -> 60
        .transform(Rename({"k": "kk"}))       # 60 -> 60
        .to(sink_a)
        .to(sink_b)
        .run()
    )
    assert report["status"] == "clean"
    # per-node matrix: records leaving each stage, records per load
    assert report["stage_records"] == {
        "extract_0": 100,
        "qualify_1": 60,
        "transform_2": 60,
        "load_0": 60,
        "load_1": 60,
    }
    # reference RECORD vocabulary (records), node CALL counts top-level
    assert report["records"] == {
        "num_extract": 100,
        "num_join": 0,
        "num_qualify": 60,
        "num_transform": 60,
        "num_load": 120,
    }
    assert report["num_from"] == 1 and report["num_to"] == 2
    assert len(sink_a.rows) == 60 and len(sink_b.rows) == 60
    # default stays observation-free: no stage keys in the report
    plain = (
        Pipeline(spark)
        .from_(MemorySource([(1,)], "id long"))
        .to(CollectSink())
        .run()
    )
    assert "stage_records" not in plain and "records" not in plain


def test_count_stages_per_extractor_on_multi_from(spark):
    """num_extract counts records PER EXTRACTOR: the counter is observed
    on each incoming source frame BEFORE union/crossJoin combination
    (reference per-extractor record counts, YaEtl.php:38-53) — not on
    the combined stream, which would double-count the upstream."""
    a = MemorySource([(i,) for i in range(100)], "id long")
    b = MemorySource([(i,) for i in range(50)], "id long")
    report = (
        Pipeline(spark, count_stages=True)
        .from_(a)
        .from_(b, aggregate_with=True)      # union: 100 + 50 = 150 out
        .to(CollectSink())
        .run()
    )
    assert report["stage_records"]["extract_0"] == 100
    assert report["stage_records"]["extract_1"] == 50
    assert report["records"]["num_extract"] == 150  # NOT 100 + 150
    assert report["records"]["num_load"] == 150


def test_count_stages_inside_branches(spark):
    """BranchPipeline(count_stages=True): per-node record counts inside
    branch lineages, surfaced by the parent run() under b{i}_-prefixed
    stage names and rolled into the records totals (the reference counts
    per-node inside branches too, tests/QualifierTest.php:904-908)."""
    src = MemorySource([(i, i % 4) for i in range(80)], "id long, k long")
    evens, all_sink = CollectSink(), CollectSink()
    child = (
        BranchPipeline(spark, count_stages=True)
        .qualify(F.col("k") == 0)            # 80 -> 20
        .transform(Rename({"k": "kk"}))      # 20 -> 20
        .to(evens)
    )
    report = (
        Pipeline(spark, count_stages=True)
        .from_(src)
        .to(all_sink)
        .branch(child)
        .run()
    )
    assert report["stage_records"]["extract_0"] == 80
    assert report["stage_records"]["b0_qualify_0"] == 20
    assert report["stage_records"]["b0_transform_1"] == 20
    # branch stages roll into the reference RECORD totals
    assert report["records"]["num_qualify"] == 20
    assert report["records"]["num_transform"] == 20
    assert report["records"]["num_load"] == 80 + 20
    assert len(evens.rows) == 20 and len(all_sink.rows) == 80


def test_count_stages_run_is_single_shot(spark):
    """Observations capture only their first action, so a second run()
    would silently report the first run's counters — it raises."""
    p = (
        Pipeline(spark, count_stages=True)
        .from_(MemorySource([(1,), (2,)], "id long"))
        .to(CollectSink())
    )
    first = p.run()
    assert first["stage_records"]["extract_0"] == 2
    with pytest.raises(PipelineError, match="single-shot"):
        p.run()
    # without stage counters, run() stays re-runnable
    q = Pipeline(spark).from_(MemorySource([(1,)], "id long"))
    assert q.run()["num_records"] == 1
    assert q.run()["num_records"] == 1


def test_count_stages_reject_sink_not_in_num_load(spark):
    """qualify(reject_to=...) quarantine writes are reported as
    num_rejected, not silently folded into num_load."""
    rejected, kept = CollectSink(), CollectSink()
    report = (
        Pipeline(spark, count_stages=True)
        .from_(MemorySource([(i,) for i in range(10)], "id long"))
        .qualify("id < 7", reject_to=rejected)
        .to(kept)
        .run()
    )
    assert report["num_rejected"] == 3
    assert report["records"]["num_load"] == 7
    assert len(rejected.rows) == 3 and len(kept.rows) == 7


def test_count_stages_per_extractor_on_cross_join(spark):
    """Sequential from_ (crossJoin) with stage counters: under a
    CartesianProduct each side re-executes per opposite partition and
    the Observations would multiply nondeterministically — count_stages
    broadcasts the incoming side so both per-extractor counts are
    exact (build executes once, streamed side once per own partition)."""
    report = (
        Pipeline(spark, count_stages=True)
        .from_(MemorySource([(i,) for i in range(10)], "a long"))
        .from_(MemorySource([(j,) for j in range(4)], "b long"))
        .to(CollectSink())
        .run()
    )
    assert report["stage_records"]["extract_0"] == 10
    assert report["stage_records"]["extract_1"] == 4
    assert report["records"]["num_extract"] == 14
    assert report["records"]["num_load"] == 40


def test_run_single_shot_with_observe_and_breakat(spark):
    """observe() metrics and root-flow BreakAt trigger counts also
    capture only their first action — a second run() raises instead of
    silently reporting the first run's numbers."""
    from yaetl_spark import BreakAt

    p = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(5)], "id long"))
        .observe("m", F.sum("id").alias("s"))
        .to(CollectSink())
    )
    assert p.run()["observe_m"]["s"] == 10
    with pytest.raises(PipelineError, match="single-shot"):
        p.run()
    q = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(5)], "id long"))
        .qualify(BreakAt(F.col("id") == 3, order_by="id"))
        .to(CollectSink())
    )
    assert q.run()["status"] == "dirty"
    with pytest.raises(PipelineError, match="single-shot"):
        q.run()


def test_branch_only_counters_report_stages_not_totals(spark):
    """BranchPipeline(count_stages=True) under a plain parent: per-stage
    branch counts are reported, but the reference-vocabulary totals are
    withheld (they would claim num_extract/num_load = 0 despite
    extracts/loads having run)."""
    child = (
        BranchPipeline(spark, count_stages=True)
        .qualify("id < 3")
        .to(CollectSink())
    )
    report = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(10)], "id long"))
        .to(CollectSink())
        .branch(child)
        .run()
    )
    assert report["stage_records"] == {"b0_qualify_0": 3}
    assert "records" not in report


def test_branch_reject_to_is_root_only(spark):
    """Reject capture needs the rooted flow; a branch says so instead of
    failing on an unknown keyword."""
    with pytest.raises(PipelineError, match="root-only"):
        BranchPipeline(spark).qualify("id < 3", reject_to=CollectSink())


@pytest.mark.parametrize("form", ["sql", "column", "callable", "predicate"])
def test_root_and_branch_share_one_grammar(spark, form):
    """The same qualify -> transform -> join -> limit chain gives the same
    rows and the same per-stage record counts whether it is composed on
    the root flow or as a branch over it."""
    condition = {
        "sql": "id % 3 <> 0",
        "column": F.col("id") % 3 != 0,
        "callable": lambda df: df["id"] % 3 != 0,
        "predicate": Predicate("id % 3 <> 0"),
    }[form]
    src = MemorySource([(i, i % 4) for i in range(60)], "id long, k long")
    dim = MemorySource([(0, "zero"), (1, "one"), (2, "two")], "k long, name string")

    def chain(p):
        return (
            p.qualify(condition)                     # 60 -> 40
            .transform(Rename({"id": "row_id"}))
            .join(dim, "k", broadcast=True)          # k = 3 has no match
            .limit(100)
        )

    root_sink, branch_sink = CollectSink(), CollectSink()
    root = chain(Pipeline(spark, count_stages=True).from_(src)).to(root_sink).run()
    branched = (
        Pipeline(spark, count_stages=True)
        .from_(src)
        .branch(chain(BranchPipeline(spark, count_stages=True)).to(branch_sink))
        .run()
    )

    def by_kind(report):
        # root names stages <kind>_<i>, branch stages b<j>_<kind>_<i>
        return {
            name.split("_")[-2]: n for name, n in report["stage_records"].items()
        }

    rows = sorted(r.asDict().items() for r in root_sink.rows)
    assert rows == sorted(r.asDict().items() for r in branch_sink.rows)
    assert len(rows) == 30
    assert by_kind(root) == by_kind(branched) == {
        "extract": 60, "qualify": 40, "transform": 40, "join": 30, "load": 30,
    }


class _MeetSink(CollectSink):
    """Collects only after meeting its sibling writers at a barrier: the
    write succeeds only if those writers run at the same time."""

    def __init__(self, barrier, started=None, **kw):
        super().__init__(**kw)
        self.barrier = barrier
        self.started = started

    def write(self, df):
        if self.started is not None:
            self.started.set()
        self.barrier.wait()
        super().write(df)


def test_branch_chains_write_concurrently(spark):
    """Two branch chains meet at a barrier inside their sink writes: run()
    writes independent chains at the same time, not one after another."""
    import threading

    meet = threading.Barrier(2, timeout=30)
    evens, odds = _MeetSink(meet), _MeetSink(meet)
    report = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(10)], "id int"))
        .branch(BranchPipeline(spark).qualify("id % 2 = 0").to(evens))
        .branch(BranchPipeline(spark).qualify("id % 2 = 1").to(odds))
        .run()
    )
    assert report["status"] == "clean" and report["num_records"] == 10
    assert sorted(r["id"] for r in evens.rows) == [0, 2, 4, 6, 8]
    assert sorted(r["id"] for r in odds.rows) == [1, 3, 5, 7, 9]


def test_reject_chain_starts_before_materialization(spark, monkeypatch):
    """The reject stream has its own lineage: it starts before the shared
    frame is built, and it writes alongside the root chain."""
    import threading

    from yaetl_spark.sinks.base import NoOpSink

    meet, reject_started = threading.Barrier(2, timeout=30), threading.Event()
    materialized: list = []
    noop_write = NoOpSink.write

    def materialize(self, df):
        materialized.append(reject_started.wait(30))
        return noop_write(self, df)

    monkeypatch.setattr(NoOpSink, "write", materialize)
    kept, copy = _MeetSink(meet), CollectSink()
    rejected = _MeetSink(meet, started=reject_started)
    report = (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(6)], "id int"))
        .qualify("id < 4", reject_to=rejected)
        .to(kept)
        .to(copy)
        .run()
    )
    assert materialized == [True]
    assert report["num_records"] == 4 and report["num_rejected"] == 2
    assert sorted(r["id"] for r in kept.rows) == [0, 1, 2, 3]
    assert sorted(r["id"] for r in copy.rows) == [0, 1, 2, 3]
    assert sorted(r["id"] for r in rejected.rows) == [4, 5]


def test_chains_sharing_a_target_append_in_turn(spark, tmp_path):
    """A root sink and two branch sinks appending to one parquet directory
    run in turn (concurrent commits into one directory race): every run
    lands exactly its rows."""
    from yaetl_spark.sinks import ParquetSink

    out = str(tmp_path / "shared")
    src = MemorySource([(i,) for i in range(12)], "id int")
    for run in range(1, 9):
        (
            Pipeline(spark)
            .from_(src)
            .to(ParquetSink(out, mode="append"))
            .branch(BranchPipeline(spark).qualify("id < 5").to(
                ParquetSink(out, mode="append")))
            .branch(BranchPipeline(spark).qualify("id >= 9").to(
                ParquetSink(out, mode="append")))
            .run()
        )
        assert spark.read.parquet(out).count() == run * (12 + 5 + 3)


def test_sink_jobs_inherit_the_callers_job_group(spark):
    """Every job a run fires — the materialization, each chain's writes,
    the reject stream — carries the job group set by the caller."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    grouped = set(tracker.getJobIdsForGroup("g"))
    sc.setJobGroup("g", "fan-out under one job group")
    try:
        (
            Pipeline(spark)
            .from_(MemorySource([(i,) for i in range(10)], "id int"))
            .qualify("id < 8", reject_to=CollectSink())
            .to(CollectSink())
            .to(CollectSink())
            .branch(BranchPipeline(spark).qualify("id < 3").to(CollectSink()))
            .run()
        )
    finally:
        sc._jsc.clearJobGroup()
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    # materialization + three flow sinks + the reject sink
    assert len(set(tracker.getJobIdsForGroup("g")) - grouped) >= 5


def test_failed_branch_stops_only_its_chain(spark):
    """One branch sink raises while its sibling finishes: the error
    propagates, flow.fail fires once, every started sink flushes
    'exception' in declared order, and the shared frame is unpersisted."""
    seen: list = []

    class Boom(CollectSink):
        def write(self, df):
            raise RuntimeError("boom")

    def hook(name):
        return lambda status: seen.append((name, status))

    root, sibling = CollectSink(on_flush=hook("root")), CollectSink(
        on_flush=hook("sibling"))
    events: list = []
    persistent = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="boom"):
        (
            Pipeline(spark)
            .from_(MemorySource([(i,) for i in range(10)], "id int"))
            .to(root)
            .branch(BranchPipeline(spark).to(Boom(on_flush=hook("boom"))))
            .branch(BranchPipeline(spark).qualify("id < 4").to(sibling))
            .run(on_event=lambda e, p: events.append(e))
        )
    assert [e for e in events if e == "flow.fail"] == ["flow.fail"]
    assert seen == [("root", "exception"), ("boom", "exception"),
                    ("sibling", "exception")]
    assert sorted(r["id"] for r in sibling.rows) == [0, 1, 2, 3]
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= persistent


def test_count_stages_load_names_follow_declared_order(spark):
    """Load counters are named on the calling thread before any chain
    starts, so their keys and values do not depend on which chain writes
    first."""
    runs = []
    for _ in range(3):
        report = (
            Pipeline(spark, count_stages=True)
            .from_(MemorySource([(i,) for i in range(10)], "id long"))
            .branch(BranchPipeline(spark).qualify("id < 3").to(CollectSink()))
            .branch(BranchPipeline(spark).qualify("id < 7").to(CollectSink()))
            .run()
        )
        runs.append(list(report["stage_records"].items()))
    assert runs == [[("extract_0", 10), ("load_0", 3), ("load_1", 7)]] * 3


def test_callbacks_never_overlap(spark):
    """on_event callbacks and flush hooks run one at a time, whichever
    thread fires them: progress ticks from the poller, a force_flush from
    a sink thread while a sibling chain still runs, and the root flush
    from the caller."""
    import time as _t

    log: list = []

    def guarded(tag):
        log.append(("enter", tag))
        _t.sleep(0.02)
        log.append(("exit", tag))

    def slow(seconds):
        def op(df):
            @F.pandas_udf("long")
            def crawl(s):
                _t.sleep(seconds)
                return s

            return df.repartition(2).withColumn("id", crawl("id"))

        return op

    events: list = []

    def on_event(e, p):
        events.append((e, p))
        guarded(e)

    (
        Pipeline(spark)
        .from_(MemorySource([(i,) for i in range(16)], "id int"))
        .to(CollectSink(on_flush=lambda s: guarded("root-hook")))
        .branch(BranchPipeline(spark).transform(slow(1.0)).to(
            CollectSink(on_flush=lambda s: guarded("branch-hook"))))
        .branch(BranchPipeline(spark).transform(slow(0.1)).to(
            CollectSink(force_flush=True,
                        on_flush=lambda s: guarded("forced-hook"))))
        .run(on_event=on_event, progress_interval=0.01)
    )
    names = [e for e, _ in events]
    assert "flow.progress" in names
    assert any(e == "flow.flush" and p.get("forced") for e, p in events)
    assert any(e == "flow.flush" and not p.get("forced") for e, p in events)
    assert [kind for kind, _ in log] == ["enter", "exit"] * (len(log) // 2)
