"""Every metric the benchmark reports: name, unit, which way is better,
and — for a per-layer metric — the end-to-end metric it should move and
on which workload. ``python3 perfbench/run.py --list-metrics`` prints
this table.

End-to-end metrics are measured with tracing off (``--trace 0``);
per-layer metrics come from a separate traced run (``--trace 1``).
"""

from __future__ import annotations

WORKLOADS = ("etl_flow", "query_mix")
ALL = WORKLOADS
ETL = ("etl_flow",)
QUERIES = ("query_mix",)

# name, unit, better, description
END_TO_END = [
    ("setup_s", "s", "lower",
     "engine import, get_spark (JVM launch) and table warm-up, once per "
     "run; input generation and oracles excluded"),
    ("pass_s", "s", "lower",
     "wall of a warm pass: the sum over its units of each unit's median "
     "latency across the warm passes; the two passes after the cold one "
     "are a warm-up and not timed"),
    ("query_p50_s", "s", "lower",
     "median per-unit latency over all warm passes (a unit is one query "
     "or one flow run)"),
    ("cpu_s", "s", "lower",
     "CPU seconds of the process tree (driver Python, JVM, Python "
     "workers) over the warm passes, from /proc, per pass"),
    ("ok_rate", "ratio", "higher",
     "units that raised no error and matched their oracle, over units "
     "attempted (1 - error rate)"),
]

# name, unit, better, moves, workloads
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s", ALL),
    # the first pass in the fresh session and the 90th percentile of the
    # warm unit latencies: one sample, and the top decile of at most a
    # few dozen, too unsteady between runs for a bound
    ("run.cold_s", "s", "lower",
     "none: wall of the first pass in the fresh session", ALL),
    ("run.query_tail_s", "s", "lower",
     "none: 90th percentile (nearest rank) of the warm unit latencies",
     ALL),
    ("sources.read_s", "s", "lower", "run.cold_s pass_s", ETL),
    ("sources.read_jobs", "count", "lower", "run.cold_s pass_s", ETL),
    ("sources.input_rows", "count", "lower", "run.cold_s pass_s", ETL),
    ("sources.input_mb", "MB", "lower", "run.cold_s pass_s", ETL),
    ("pipeline.compose_s", "s", "lower", "pass_s cpu_s", ETL),
    ("pipeline.run_s", "s", "lower", "pass_s cpu_s", ETL),
    ("pipeline.jobs", "count", "lower", "pass_s cpu_s", ETL),
    ("pipeline.persist_mb", "MB", "lower", "pass_s cpu_s", ETL),
    ("pipeline.scan_repeats", "count", "lower", "pass_s cpu_s", ETL),
    ("plans.gate_s", "s", "lower", "run.cold_s", ETL),
    ("sinks.parquet.write_s", "s", "lower", "pass_s cpu_s", ETL),
    ("sinks.csv.write_s", "s", "lower", "pass_s cpu_s", ETL),
    ("sinks.json.write_s", "s", "lower", "pass_s cpu_s", ETL),
    ("sinks.merge.write_s", "s", "lower", "pass_s cpu_s", ETL),
    ("sinks.output_mb", "MB", "lower", "pass_s cpu_s", ETL),
    ("sinks.write_amp", "ratio", "lower", "pass_s cpu_s", ETL),
    ("operators.build_s", "s", "lower", "query_p50_s pass_s", QUERIES),
    ("operators.build_jobs", "count", "lower", "query_p50_s pass_s",
     QUERIES),
]
# the operators modules query_mix attributes units to (workloads.QUERY_MIX)
OPERATOR_MODULES = ("graph", "similarity", "text", "sampling", "stats",
                    "sketches", "curation")
for _m in OPERATOR_MODULES:
    PER_LAYER += [
        (f"operators.{_m}.build_s", "s", "lower", "pass_s run.query_tail_s",
         QUERIES),
        (f"operators.{_m}.exec_s", "s", "lower", "pass_s run.query_tail_s",
         QUERIES),
        (f"operators.{_m}.jobs", "count", "lower", "pass_s run.query_tail_s",
         QUERIES),
        (f"operators.{_m}.task_cpu_s", "s", "lower", "pass_s run.query_tail_s",
         QUERIES),
    ]
PER_LAYER += [
    ("spark.plan_s", "s", "lower", "query_p50_s", QUERIES),
    ("spark.exec_s", "s", "lower", "cpu_s pass_s", ALL),
    ("spark.jobs", "count", "lower", "cpu_s pass_s", ALL),
    ("spark.stages", "count", "lower", "cpu_s pass_s", ALL),
    ("spark.tasks", "count", "lower", "cpu_s pass_s", ALL),
    ("spark.task_run_s", "s", "lower", "cpu_s pass_s", ALL),
    ("spark.task_cpu_s", "s", "lower", "cpu_s pass_s", ALL),
    ("spark.core_util", "ratio", "higher", "cpu_s pass_s", ALL),
    ("spark.shuffle_read_mb", "MB", "lower", "pass_s cpu_s", ETL),
    ("spark.shuffle_write_mb", "MB", "lower", "pass_s cpu_s", ETL),
    ("spark.spill_mb", "MB", "lower", "pass_s cpu_s", ETL),
    ("spark.gc_s", "s", "lower", "pass_s cpu_s", ETL),
    ("spark.skew_max", "ratio", "lower", "run.query_tail_s", QUERIES),
    ("spark.failed_tasks", "count", "lower", "ok_rate", ALL),
    # peak memory is not an end-to-end metric: the JVM's peak follows
    # when G1 chose to grow the heap and spread 0.3-0.8 between seeds
    ("proc.jvm_peak_rss_mb", "MB", "lower",
     "none: peak VmHWM of the JVM (unsteady, see README)", ALL),
    ("proc.python_peak_rss_mb", "MB", "lower",
     "none: summed peak VmHWM of driver Python and workers", ALL),
    ("trace.overhead_s", "s", "lower",
     "none: traced pass_s minus untraced pass_s", ALL),
]

UNITS = {n: u for n, u, *_ in END_TO_END + PER_LAYER}


def table() -> str:
    rows = ["end-to-end (--trace 0)"]
    rows += [f"  {n:28s} {u:6s} {b:6s} {d}" for n, u, b, d in END_TO_END]
    rows.append("per-layer (--trace 1)        unit   better moves    on")
    rows += [f"  {n:28s} {u:6s} {b:6s} {m:24s} {','.join(w)}"
             for n, u, b, m, w in PER_LAYER]
    return "\n".join(rows)
