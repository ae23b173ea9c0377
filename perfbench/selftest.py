"""Self-test of the benchmark's instruments, on tiny generated inputs
(scale factor 0.001): every named metric is emitted, no per-unit figure
is negative, the status store and the status tracker agree on every job
group's job count, no short query_mix query fires a job while built
while the driver loops do (pagerank among them), and BENCHMARK.json
names the same metrics as metrics.py.

    python3 perfbench/run.py --self-test
"""

from __future__ import annotations

import json
import os
import sys

import metrics as registry
from workloads import SHORT_QUERIES

NUMERIC = ("jobs", "stages", "exec_s", "skew_max", "tasks", "failed_tasks",
           "task_run_s", "task_cpu_s", "gc_s", "input_rows", "input_mb",
           "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


def check_manifest(path: str) -> list[str]:
    """BENCHMARK.json names exactly the registry's workloads and metrics,
    with the same units and directions."""
    if not os.path.isfile(path):
        return [f"{path} is missing"]
    with open(path) as fh:
        doc = json.load(fh)
    problems = []
    if [w["name"] for w in doc["workloads"]] != list(registry.WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from metrics.py")
    for key, names in (("end_to_end", registry.END_TO_END),
                       ("per_layer", registry.PER_LAYER)):
        want = [(n, u, b) for n, u, b, *_ in names]
        got = [(m["name"], m["unit"], m["better"]) for m in doc[key]]
        if got != want:
            problems.append(f"BENCHMARK.json {key} differs from metrics.py")
    return problems


def main(bench_cls, manifest: str) -> int:
    problems = check_manifest(manifest)

    class Checked(bench_cls):
        def read_unit(self, unit_span):
            rec = super().read_unit(unit_span)
            for s in rec["spans"]:
                g = self.tracer.group(s)
                stored = self.status.store_job_count(g)
                tracked = len(self.status.job_ids(g))
                if stored != tracked:
                    problems.append(f"{rec['unit']}/{s['name']}: store has "
                                    f"{stored} jobs, tracker {tracked}")
                if s["end"] < s["start"]:
                    problems.append(f"{rec['unit']}/{s['name']}: span ends "
                                    "before it starts")
            for sid, st in rec["status"].items():
                for k in NUMERIC:
                    if st[k] < 0:
                        problems.append(f"{rec['unit']}: {k} = {st[k]} < 0")
            if rec["unit"] in SHORT_QUERIES:
                built = [s for s in rec["spans"] if s["layer"] == "operators"]
                jobs = sum(rec["status"][s["id"]]["jobs"] for s in built)
                if jobs:
                    problems.append(f"{rec['unit']} fired {jobs} jobs while "
                                    "it was built")
            return rec

    for workload in registry.WORKLOADS:
        bench = Checked(workload, seed=1, seconds=0, trace=True, sf=0.001)
        try:
            result = bench.run()
        finally:
            bench.close()
        if not result["correct"] or result["failed"]:
            problems.append(f"{workload}: {result['failed']} of "
                            f"{result['attempted']} units failed")
        for kind, got, names in (
                ("end-to-end", bench.end_to_end, registry.END_TO_END),
                ("per-layer", bench.per_layer, registry.PER_LAYER)):
            missing = {n for n, *_ in names} - set(got)
            if missing:
                problems.append(f"{workload}: {kind} metrics missing: "
                                f"{sorted(missing)}")
        for name, value in bench.end_to_end.items():
            if not value > 0:
                problems.append(f"{workload}: {name} = {value}, not > 0")
        if workload == "query_mix":
            for name in ("operators.build_jobs", "operators.graph.jobs"):
                if not bench.per_layer[name] > 0:
                    problems.append(f"query_mix: {name} is 0, the driver "
                                    "loops fired no job while built")
        print(f"self-test: {workload} done, {result['attempted']} units",
              file=sys.stderr)
    for p in problems:
        print(f"self-test: FAIL {p}")
    print("self-test: ok" if not problems else
          f"self-test: {len(problems)} problem(s)")
    return 1 if problems else 0
