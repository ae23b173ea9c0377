#!/usr/bin/env python3
"""Benchmark of the yaetl_spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_flow --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --list-metrics
    python3 perfbench/run.py --self-test

Run it from the root of a checkout. It generates its inputs from the
seed (perfbench/datagen.py), starts a local Spark session on half the
cores, runs one cold pass, two untimed warm-up passes and then warm
passes for ``--seconds`` seconds, checks every unit's output against a
DuckDB oracle, and prints one JSON object as the last line of stdout:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(perfbench/metrics.py lists them). A traced run also writes its spans
to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("etl_flow", "query_mix")
SCALE = 0.01        # scale factor of the generated inputs
ETL_BATCHES = 2     # etl_flow runs the flow once per batch in every pass
WARMUP_PASSES = 2   # unmeasured passes between the cold and the warm ones
TAIL_Q = 0.9        # run.query_tail_s is this quantile of the warm latencies


def spark_cores() -> int:
    """Task slots of the benchmark's session: half the cores it may use,
    so the JVM's compiler and GC threads and the driver's Python run
    beside the tasks instead of time-sliced with them on a shared host."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _prepare_env(cores: int) -> None:
    """Keep every file the run writes inside the checkout, put the repo
    root on the Python workers' import path and give the engine
    ``cores`` cores."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _spark_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no hsperfdata file in /tmp: the run writes only in the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _tail_rank(n: int) -> int:
    """1-based nearest rank of the TAIL_Q quantile among n samples."""
    return math.ceil(TAIL_Q * n)


def _pass_s(passes) -> float:
    """Sum over the units of a pass of each unit's median latency across
    the warm passes: a unit slowed in one pass moves only its own term."""
    lat = [r[2] for r in passes]
    return sum(statistics.median(xs) for xs in zip(*lat))


def _tail(xs: list[float]) -> float:
    """The TAIL_Q quantile by nearest rank. A fixed quantile keeps the
    metric comparable when host speed changes how many warm passes fit;
    the run prints how many samples lie beyond it."""
    return sorted(xs)[_tail_rank(len(xs)) - 1]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, sf: float = SCALE):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sf = sf
        self.cores = spark_cores()
        self.attempted = 0
        self.failed: list[str] = []
        self.spark = None
        self.tracer = None
        self.persist_bytes = 0
        self.setup_s = 0.0
        self.session_s = 0.0
        self.unit_records: list[dict] = []   # traced passes only
        self.gen_s = 0.0

    # ------------------------------------------------------------ inputs
    def make_inputs(self) -> None:
        """Generate the inputs in a child process, so that DuckDB's memory
        stays out of the measured process tree."""
        kind = "etl" if self.workload == "etl_flow" else "base"
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), kind,
             os.path.join(WORK, "data"), str(self.seed), str(self.sf),
             str(ETL_BATCHES)],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        self.data, self.gen_s = json.loads(out.splitlines()[-1])
        self.tables = [os.path.join(self.data, f) for f in sorted(
            os.listdir(self.data)) if f.endswith(".parquet")]

    # ------------------------------------------------------------ session
    def setup(self) -> None:
        """Import the engine, launch the JVM and warm the tables up: the
        set-up a one-shot job pays before its first unit."""
        t0 = time.monotonic()
        from yaetl_spark import session

        spark = session.get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=_spark_conf())
        t1 = time.monotonic()
        spark.sparkContext.setLogLevel("ERROR")
        # warm-up: list and read the footer of every input
        for path in self.tables:
            spark.read.parquet(path).schema
        self.session_s = t1 - t0
        self.setup_s = time.monotonic() - t0
        self.spark = spark

    # ------------------------------------------------------------ tracing
    def install_tracing(self):
        """Patch the engine's public entry points so each call opens a
        span; returns the undo handle."""
        from pyspark.sql.classic.dataframe import DataFrame

        import yaetl_spark.plans as plans
        import yaetl_spark.sinks as sinks
        from probe import Patches
        from yaetl_spark.pipeline import BranchPipeline, Pipeline
        from yaetl_spark.sources.base import Source

        tr = self.tracer
        p = Patches()
        p.set(Source, "read", tr.wrap(Source.read, "Source.read", "sources"))
        for cls in (Pipeline, BranchPipeline):
            for name in ("from_", "join", "left_join", "qualify",
                         "transform", "to", "branch"):
                if name in cls.__dict__:
                    p.set(cls, name, tr.wrap(
                        cls.__dict__[name], f"{cls.__name__}.{name}",
                        "pipeline.compose"))
        p.set(Pipeline, "run",
              tr.wrap(Pipeline.run, "Pipeline.run", "pipeline.run"))
        p.set(plans, "assert_scales", tr.wrap(
            plans.assert_scales, "assert_scales", "plans.gate"))
        kinds = {"ParquetSink": "parquet", "CsvSink": "csv",
                 "JsonSink": "json", "MergeParquetSink": "merge"}
        for cls_name in sinks.__all__:
            cls = getattr(sinks, cls_name)
            if "write" in cls.__dict__:
                kind = kinds.get(cls_name, "other")
                p.set(cls, "write", tr.wrap(
                    cls.__dict__["write"], f"{cls_name}.write",
                    f"sinks.{kind}"))

        # the fan-out persist of Pipeline.run: its size, read just before
        # the flow unpersists it
        bench = self
        unpersist = DataFrame.unpersist

        def traced_unpersist(df, *a, **kw):
            infos = bench.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            bench.persist_bytes += sum(
                i.memSize() + i.diskSize() for i in infos)
            return unpersist(df, *a, **kw)

        p.set(DataFrame, "unpersist", traced_unpersist)
        return p

    # ------------------------------------------------------------ units
    def units(self):
        """(name, callable returning an Outcome) for the next pass."""
        from workloads import QUERY_MIX, Outcome, query_order

        if self.workload == "etl_flow":
            return [(f"batch{b}", lambda b=b: Outcome(
                f"batch{b}", report=self.call(
                    "flow", "unit.flow", self.flow.run_batch, self.spark, b),
                batch=b)) for b in range(ETL_BATCHES)]
        import __spark_entry__ as entry

        qs = entry.queries()
        return [(n, lambda n=n: self.run_query(n, qs[n]))
                for n in query_order(QUERY_MIX, self.seed)]

    def call(self, name, layer, fn, *args):
        if self.tracer is not None and self.tracer.enabled:
            return self.tracer.call(name, layer, fn, *args)
        return fn(*args)

    def run_query(self, name, fn):
        from workloads import Outcome

        df = self.call(name, "operators", fn, self.spark, self.data)
        if self.tracer is not None and self.tracer.enabled:
            self.call("executedPlan", "spark.plan",
                      lambda: df._jdf.queryExecution().executedPlan())
        self.call("write.noop", "spark.exec", lambda: df.write.format(
            "noop").mode("overwrite").save())
        return Outcome(name, df=df)

    def run_pass(self, traced: bool):
        """Run every unit once; returns (wall, cpu, latencies, outcomes)."""
        tr = self.tracer
        if tr is not None:
            tr.enabled = traced
        undo = self.install_tracing() if traced else None
        outcomes, lat = [], []
        cpu0 = self.proc.cpu_s()
        t_pass = time.monotonic()
        try:
            units = self.units()
            for name, unit in units:
                self.attempted += 1
                span = None
                if traced:
                    tr.unit = name
                    span = tr.open(name, "unit")
                    self.persist_bytes = 0
                t0 = time.monotonic()
                try:
                    outcomes.append(unit())
                except Exception:  # a failing unit is counted, not fatal
                    self.failed.append(name)
                    traceback.print_exc(file=sys.stderr)
                finally:
                    lat.append(time.monotonic() - t0)
                    if span is not None:
                        tr.close(span)
                if traced:
                    self.unit_records.append(self.read_unit(span))
        finally:
            wall = time.monotonic() - t_pass
            cpu = self.proc.cpu_s() - cpu0
            if undo is not None:
                undo.undo()
        return wall, cpu, lat, outcomes, t_pass

    # ------------------------------------------------------------ status
    def read_unit(self, unit_span: dict) -> dict:
        """Status-store figures of one finished unit, per span."""
        self.status.drain()
        spans = [s for s in self.tracer.spans if s["unit"] == unit_span["unit"]
                 and s["id"] >= unit_span["id"]]
        per_span = {s["id"]: self.status.read_group(self.tracer.group(s))
                    for s in spans}
        return {"unit": unit_span["unit"], "spans": spans,
                "status": per_span, "persist_bytes": self.persist_bytes}

    # ------------------------------------------------------------ run
    def run(self) -> dict:
        from probe import ProcTree, StatusReader, Tracer, host_steal

        self.make_inputs()
        self.proc = ProcTree()
        self.proc.start()
        t_setup = time.monotonic()
        if self.trace:
            self.tracer = Tracer()
        self.setup()
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
            self.status = StatusReader(self.spark)
        if self.workload == "etl_flow":
            from workloads import EtlFlow

            self.flow = EtlFlow(self.data, os.path.join(
                WORK, "out", f"etl-{self.seed}-{os.getpid()}"))
        cold_wall, _, _, cold_out, _ = self.run_pass(traced=False)
        # the first warm passes still carry the JIT tail: run them, count
        # their failures, but do not time them
        warmup = [self.run_pass(traced=False) for _ in range(WARMUP_PASSES)]
        plain, traced = [], []
        steal0 = host_steal()
        t_warm = time.monotonic()
        while True:
            n = len(plain) + len(traced)
            use_trace = self.trace and n % 2 == 1
            res = self.run_pass(traced=use_trace)
            (traced if use_trace else plain).append(res)
            # end at the pass boundary nearest to the window's end
            if (time.monotonic() - t_warm + res[0] / 2 >= self.seconds
                    and (traced or not self.trace)):
                break
        steal = [b - a for a, b in zip(steal0, host_steal())]
        self.proc.stop()
        # warm passes in the order they ran, for the merged-target oracle
        warm = sorted(warmup + plain + traced, key=lambda r: r[4])
        t_check = time.monotonic()
        self.check(cold_out, [o for r in warm for o in r[3]])
        check_s = time.monotonic() - t_check
        ok = self.attempted - min(self.attempted, len(self.failed))
        lat = [x for r in plain for x in r[2]]
        self.cold_s = cold_wall
        self.end_to_end = {
            "setup_s": self.setup_s,
            "pass_s": _pass_s(plain),
            "query_p50_s": statistics.median(lat),
            "cpu_s": sum(r[1] for r in plain) / len(plain),
            "ok_rate": ok / self.attempted,
        }
        print(f"perfbench: {self.workload} seed={self.seed} "
              f"warm passes={len(plain)}+{len(traced)} traced, "
              f"{len(lat)} latency samples ("
              f"{len(lat) - _tail_rank(len(lat))} beyond the "
              f"p{round(100 * TAIL_Q)} tail), "
              f"host CPU steal {100 * steal[0] / max(1, steal[1]):.0f}%, "
              f"input generation {self.gen_s:.2f}s, set-up "
              f"{self.setup_s:.2f}s, cold pass {cold_wall:.2f}s, warm-up "
              f"{[round(r[0], 2) for r in warmup]}s, warm "
              f"{[round(r[0], 2) for r in plain]}s, oracles {check_s:.2f}s, "
              f"total {time.monotonic() - t_setup:.1f}s", file=sys.stderr)
        if self.trace:
            self.per_layer = self.layer_metrics(plain, traced)
            self.write_spans()
        import metrics as registry

        chosen = self.per_layer if self.trace else self.end_to_end
        return {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": self.attempted - ok,
            "metrics": {k: {"value": float(v), "unit": registry.UNITS[k]}
                        for k, v in chosen.items()},
        }

    # ------------------------------------------------------------ oracle
    def check(self, cold: list, warm: list) -> None:
        """Compare outputs with their oracles; a mismatch fails the unit."""
        if self.workload == "etl_flow":
            self.check_flow(cold + warm)
            return
        from tests.oracle_harness import compare, duck_con

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duck_con(self.data)
        try:
            for o in cold:
                try:
                    res = compare(o.df, con.sql(sql[o.name]).df())
                    good = res["count_match"] and res["value_match"]
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    good = False
                if not good:
                    print(f"perfbench: {o.name} does not match its oracle",
                          file=sys.stderr)
                    self.failed.append(o.name)
        finally:
            con.close()

    def check_flow(self, outcomes: list) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            batches = sorted({o.batch for o in outcomes})
            exp = {b: self.flow.expected(con, b) for b in batches}
            for o in outcomes:
                e = exp[o.batch]
                if (o.report.get("num_records") != e["fact"]
                        or o.report.get("num_rejected") != e["rejected"]
                        or o.report.get("status") != "clean"):
                    print(f"perfbench: {o.name} report {o.report} != {e}",
                          file=sys.stderr)
                    self.failed.append(o.name)
            for b in batches:
                got = self.flow.written(con, b)
                want = {k: exp[b][k] for k in got}
                if got != want:
                    print(f"perfbench: batch{b} wrote {got}, want {want}",
                          file=sys.stderr)
                    self.failed.append(f"batch{b}")
            # every run upserts its batch's summary into the one target,
            # in the order the runs went; batches leave out different
            # segments, so the target keeps rows of earlier runs
            target = {}
            for o in outcomes:
                target.update((row[:2], row) for row in exp[o.batch]["summary"])
            got = self.flow.written_summary(con)
            want = sorted(target.values())
            same = len(got) == len(want) and all(
                g[:4] == w[:4] and abs(g[4] - w[4]) <= 1e-6 * abs(w[4])
                for g, w in zip(got, want))
            if not same:
                print("perfbench: merged summary differs from the oracle",
                      file=sys.stderr)
                self.failed.append("summary")
        finally:
            con.close()

    # ------------------------------------------------------------ layers
    def layer_metrics(self, plain, traced) -> dict:
        import metrics as registry
        from workloads import QUERY_MIX

        modules = QUERY_MIX if self.workload == "query_mix" else {}
        lineitem_rows = self._lineitem_batch_rows()
        per_pass: list[dict] = []
        n_units = len(modules) or ETL_BATCHES
        recs = self.unit_records
        for i in range(0, len(recs), n_units):
            per_pass.append(self._pass_layers(
                recs[i:i + n_units], modules, lineitem_rows))
        out = {name: statistics.median(p.get(name, 0.0) for p in per_pass)
               for name, *_ in registry.PER_LAYER}
        out["session.start_s"] = self.session_s
        out["run.cold_s"] = self.cold_s
        out["run.query_tail_s"] = _tail([x for r in plain for x in r[2]])
        out["proc.jvm_peak_rss_mb"] = self.proc.peak_rss(jvm=True) / 2**20
        out["proc.python_peak_rss_mb"] = self.proc.peak_rss(jvm=False) / 2**20
        out["trace.overhead_s"] = _pass_s(traced) - _pass_s(plain)
        return out

    def _lineitem_batch_rows(self) -> int:
        if self.workload != "etl_flow":
            return -1
        import duckdb

        return duckdb.connect().execute(
            f"SELECT count(*) FROM '{self.data}/lineitem_0.parquet'"
        ).fetchone()[0]

    def _pass_layers(self, recs, modules, lineitem_rows) -> dict:
        m: dict[str, float] = {}

        def add(k, v):
            m[k] = m.get(k, 0.0) + v

        skew = 0.0
        exec_s = task_run = 0.0
        for rec in recs:
            spans = {s["id"]: s for s in rec["spans"]}
            status = rec["status"]

            def under(sid, layer):
                """sid or an ancestor is a span of ``layer``."""
                while sid is not None and sid in spans:
                    if spans[sid]["layer"] == layer:
                        return True
                    sid = spans[sid]["parent"]
                return False

            def outer_total(layer):
                tot = 0.0
                for s in spans.values():
                    if s["layer"] == layer and not under(s["parent"], layer):
                        tot += s["end"] - s["start"]
                return tot

            def sum_under(layer, key):
                return sum(st[key] for sid, st in status.items()
                           if under(sid, layer))

            for sid, st in status.items():
                for k in ("jobs", "stages", "tasks", "task_run_s",
                          "task_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
                          "spill_mb", "gc_s", "failed_tasks"):
                    add(f"spark.{k}", st[k])
                add("sources.input_rows", st["input_rows"])
                add("sources.input_mb", st["input_mb"])
                exec_s += st["exec_s"]
                task_run += st["task_run_s"]
                skew = max(skew, st["skew_max"])
                if lineitem_rows > 0:
                    add("pipeline.scan_repeats", sum(
                        1 for r in st["stage_input_rows"]
                        if r == lineitem_rows) / len(recs))
            add("sources.read_s", outer_total("sources"))
            add("sources.read_jobs", sum_under("sources", "jobs"))
            add("pipeline.compose_s", outer_total("pipeline.compose"))
            add("pipeline.run_s", outer_total("pipeline.run"))
            add("pipeline.jobs", sum_under("pipeline.run", "jobs"))
            add("pipeline.persist_mb", rec["persist_bytes"] / 2**20)
            add("plans.gate_s", outer_total("plans.gate"))
            out_mb = 0.0
            for kind in ("parquet", "csv", "json", "merge"):
                add(f"sinks.{kind}.write_s", outer_total(f"sinks.{kind}"))
                out_mb += sum_under(f"sinks.{kind}", "output_mb")
            add("sinks.output_mb", out_mb)
            if lineitem_rows > 0:
                b = int(rec["unit"].removeprefix("batch"))
                add("_input_file_mb", self.flow.input_bytes(b) / 2**20)
            build = outer_total("operators")
            add("operators.build_s", build)
            add("operators.build_jobs", sum_under("operators", "jobs"))
            add("spark.plan_s", outer_total("spark.plan"))
            mod = modules.get(rec["unit"])
            if mod is not None:
                add(f"operators.{mod}.build_s", build)
                add(f"operators.{mod}.exec_s", outer_total("spark.exec"))
                add(f"operators.{mod}.jobs",
                    sum(st["jobs"] for st in status.values()))
                add(f"operators.{mod}.task_cpu_s",
                    sum(st["task_cpu_s"] for st in status.values()))
        m["spark.exec_s"] = exec_s
        m["spark.core_util"] = task_run / (exec_s * self.cores) if exec_s else 0.0
        m["spark.skew_max"] = skew
        if m.get("_input_file_mb"):
            m["sinks.write_amp"] = m["sinks.output_mb"] / m.pop("_input_file_mb")
        return m

    def write_spans(self) -> None:
        path = os.path.join(WORK, "out", f"spans-{self.workload}-s{self.seed}"
                            f"-{os.getpid()}.json")
        self.tracer.dump(path, {"workload": self.workload, "seed": self.seed})
        print(f"perfbench: spans written to {path}", file=sys.stderr)

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.workload == "etl_flow" and hasattr(self, "flow"):
            import shutil

            shutil.rmtree(self.flow.out, ignore_errors=True)


def stop_jvm(timeout: float = 30.0) -> None:
    """Stop the JVM this process launched and wait until it and every
    other descendant (the Python workers) have exited."""
    from pyspark import SparkContext

    from probe import ProcTree

    tree = ProcTree()
    children = [p for p in tree._pids() if p != tree.root]
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()    # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in children:
        os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list-metrics", action="store_true",
                    help="print every metric with its unit and exit")
    ap.add_argument("--self-test", action="store_true",
                    help="check the instruments on tiny inputs")
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    if args.list_metrics:
        import metrics

        print(metrics.table())
        return 0
    if not (os.path.isdir(os.path.join(ROOT, "yaetl_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no yaetl_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    _prepare_env(spark_cores())
    if args.self_test:
        import selftest

        try:
            return selftest.main(Bench, os.path.join(ROOT, "BENCHMARK.json"))
        finally:
            stop_jvm()
    if args.workload is None:
        ap.error("--workload is required")
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
        stop_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
