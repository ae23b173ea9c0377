#!/usr/bin/env python3
"""Probe harness: times or plan-dumps named queries of
``__spark_entry__`` in one dedicated session — the BENCH_NOTES.md
discipline for adjudicating whether a full-suite regression is ambient
contention or a real plan shift. Session, warm-up and noop-write
materialization are bench.py's, so figures are comparable with its
medians.

Usage:
  python3 scripts/harness.py time <query> [<query> ...]
  python3 scripts/harness.py plans <tag> [<query> ...]

time   After bench.py's warm-up, per query: one discarded cold run,
       then $SPARK_GRAFT_BENCH_RUNS warm runs. Each run records
       ``build`` (wall time of the query function, where driver-side
       loops such as a k-means fit run), ``plan`` (Catalyst planning
       of the noop write's own QueryExecution), ``exec`` (write wall
       time minus ``plan``), ``total`` (build + write wall time),
       ``jobs_build`` / ``jobs`` (Spark jobs fired while building /
       in the whole run) and the AQE-final plan fingerprint. Prints
       one JSON line per query: medians, the total's [min, max], the
       cold run's fingerprint and the first warm fingerprint that
       differs from it (``plan_flip``, null when stable), every run.
plans  Writes ``.explain("formatted")`` of each query (all queries
       when none is named) to ``plans/<tag>/<query>_<suffix>.txt``,
       prints a one-line JSON summary per query (exchanges, joins,
       scans, python-eval nodes, sorts, windows) and writes all
       summaries to ``plans/<tag>/_summary_<suffix>.json``.

Env:
  SPARK_GRAFT_SF_DIR       input tables (default as in bench.py)
  SPARK_GRAFT_CPUS         local[N] and shuffle partitions (default 32)
  SPARK_GRAFT_BENCH_RUNS   warm runs per query for ``time`` (default 5)
  SPARK_GRAFT_AB_CONF      JSON object of session-conf overrides for
                           ``time`` — run once per variant (session conf
                           is fixed at startup) and compare medians
  SPARK_GRAFT_PLAN_SUFFIX  file-name suffix for ``plans`` (default
                           "before")
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402

JOINS = (r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
         r"BroadcastNestedLoopJoin|CartesianProduct)")
TIMES = ("build", "plan", "exec", "total")


class NoopPlanListener:
    """QueryExecutionListener keeping ``(executed plan, planning s)`` of
    every noop write. The timed write runs through its own
    QueryExecution, so listening to it gives the AQE-final plan and the
    write's own planning phases with zero extra executions (fingerprinting
    the df's ``executedPlan()`` instead would see the un-finalized
    AdaptiveSparkPlan, or plan the query a second time)."""

    def __init__(self):
        self.captures: list[tuple[str, float]] = []

    def onSuccess(self, funcName, qe, durationNs):
        plan = qe.executedPlan().toString()
        if "NoopWrite" not in plan.split("\n", 1)[0]:
            return  # a driver action inside the query function
        # phases can nest, so take their span, not their sum
        start, end = [], []
        phases = qe.tracker().phases().valuesIterator()
        while phases.hasNext():
            p = phases.next()
            start.append(p.startTimeMs())
            end.append(p.endTimeMs())
        self.captures.append((plan, (max(end) - min(start)) / 1000))

    def onFailure(self, funcName, qe, exception):
        pass

    def equals(self, other):
        # ExecutionListenerManager.unregister compares this listener
        # with each one registered before it
        return self is other

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def listen(spark) -> NoopPlanListener:
    """Register a NoopPlanListener on ``spark``."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = NoopPlanListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


def fingerprint(plan: str) -> dict:
    """Join strategies, exchange counts and scan count of an AQE-final
    executed plan — enough to tell a plan flip from ambient noise
    without reading the full plan dump."""
    if "isFinalPlan=false" in plan:
        raise RuntimeError(
            "captured plan is not AQE-final — fingerprint would be the "
            "static plan; refusing to record it")
    final = plan.split("== Initial Plan ==")[0]
    return {
        "joins": re.findall(JOINS, final),
        "exchanges": final.count("Exchange hashpartitioning"),
        "single_partition": final.count("Exchange SinglePartition"),
        "scans": final.count("FileScan parquet"),
    }


def measure(spark, build, listener: NoopPlanListener) -> dict:
    """One run: ``build()`` returns the query's DataFrame, which is then
    materialized by bench.py's noop write. Jobs are counted in the
    calling thread's job group; the listener bus is drained outside
    the timed regions so every job and the write's plan are recorded."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    group = sc.getLocalProperty("spark.jobGroup.id")

    def jobs() -> set[int]:
        return set(tracker.getJobIdsForGroup(group))

    before = jobs()
    t0 = time.monotonic()
    df = build()
    build_s = time.monotonic() - t0
    bus.waitUntilEmpty()
    jobs_build = len(jobs() - before)
    n_captures = len(listener.captures)
    t0 = time.monotonic()
    bench.materialize(df)
    write_s = time.monotonic() - t0
    bus.waitUntilEmpty()
    if len(listener.captures) == n_captures:
        raise RuntimeError(
            "QueryExecutionListener never delivered the noop write's "
            "plan — cannot fingerprint this run")
    plan, plan_s = listener.captures[-1]
    return {
        "build": build_s,
        "plan": plan_s,
        "exec": write_s - plan_s,
        "total": build_s + write_s,
        "jobs_build": jobs_build,
        "jobs": len(jobs() - before),
        "fingerprint": fingerprint(plan),
    }


def _queries(names: list[str]) -> dict:
    queries = entry_mod.queries()
    missing = [n for n in names if n not in queries]
    if missing:
        sys.exit(f"unknown queries: {missing}")
    return queries


def time_queries(names: list[str]) -> None:
    queries = _queries(names)
    n_warm = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    spark = bench.session(
        json.loads(os.environ.get("SPARK_GRAFT_AB_CONF", "{}")))
    bench.warm_up(spark)
    listener = listen(spark)
    for name in names:
        build = functools.partial(queries[name], spark, bench.SF_DIR)
        cold = measure(spark, build, listener)
        runs = [measure(spark, build, listener) for _ in range(n_warm)]
        flips = [r["fingerprint"] for r in runs
                 if r["fingerprint"] != cold["fingerprint"]]
        totals = [r["total"] for r in runs]
        print(json.dumps({name: {
            "median": {k: round(statistics.median(r[k] for r in runs), 3)
                       for k in TIMES},
            "spread": [round(min(totals), 3), round(max(totals), 3)],
            "jobs_build": runs[-1]["jobs_build"],
            "jobs": runs[-1]["jobs"],
            "plan": cold["fingerprint"],
            "plan_flip": flips[0] if flips else None,
            "runs": [
                {k: round(r[k], 3) if k in TIMES else r[k]
                 for k in (*TIMES, "jobs_build", "jobs")}
                for r in runs
            ],
        }}, sort_keys=True), flush=True)


def dump_plans(tag: str, names: list[str]) -> None:
    queries = _queries(names)
    names = names or sorted(queries)
    suffix = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "before")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = bench.session()

    summary = {}
    for name in names:
        try:
            df = queries[name](spark, bench.SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            summary[name] = {"error": str(exc)[:200]}
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        summary[name] = {
            "exchanges": plan.count("Exchange"),
            "hash_exchanges": len(
                re.findall(r"Exchange hashpartitioning", plan)),
            "single_partition": plan.count("Exchange SinglePartition"),
            "joins": re.findall(JOINS, plan),
            "scans": plan.count("Scan parquet"),
            "python": re.findall(
                r"(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                r"MapInArrow|FlatMapGroupsInPandas)", plan),
            "sorts": plan.count("\n(") and len(
                re.findall(r"\bSort \[", plan)),
            "window": len(re.findall(r"\bWindow\b", plan)),
        }
        print(json.dumps({name: summary[name]}, sort_keys=True),
              flush=True)
    with open(os.path.join(out_dir, f"_summary_{suffix}.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)


def main(argv: list[str]) -> None:
    if len(argv) >= 2 and argv[0] == "time":
        time_queries(argv[1:])
    elif len(argv) >= 2 and argv[0] == "plans":
        dump_plans(argv[1], argv[2:])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
