"""The probe harness (``scripts/harness.py``): one measured run of a
catalog query on the suite's own session records every layer."""

from __future__ import annotations

import importlib.util
import os

import pytest

import __spark_entry__ as entry_mod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def harness():
    spec = importlib.util.spec_from_file_location(
        "harness", os.path.join(ROOT, "scripts", "harness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_measure_records_build_plan_exec_and_jobs(spark, sf_dir, harness):
    fn = entry_mod.queries()["scan_filter_project"]
    manager = spark._jsparkSession.listenerManager()
    n_listeners = len(manager.listListeners())
    listener = harness.listen(spark)
    # unregister matches by JVM reference, and py4j hands the JVM a new
    # proxy each time a Python object is passed: unregister the proxy
    # the manager holds, not `listener`
    proxy = manager.listListeners()[-1]
    try:
        run = harness.measure(spark, lambda: fn(spark, sf_dir), listener)
    finally:
        manager.unregister(proxy)
    assert len(manager.listListeners()) == n_listeners

    assert set(run) == {"build", "plan", "exec", "total", "jobs_build",
                        "jobs", "fingerprint"}
    assert run["plan"] > 0
    assert min(run["build"], run["exec"]) >= 0
    assert run["total"] >= run["build"] + run["plan"]
    assert 0 <= run["jobs_build"] < run["jobs"]
    # the fingerprint is the timed noop write's own executed plan
    plan = listener.captures[-1][0]
    assert "NoopWrite" in plan.split("\n", 1)[0]
    assert "isFinalPlan=false" not in plan
    assert run["fingerprint"] == harness.fingerprint(plan)
    assert run["fingerprint"]["scans"] == 1


def test_fingerprint_refuses_a_plan_aqe_has_not_finalized(harness):
    with pytest.raises(RuntimeError, match="not AQE-final"):
        harness.fingerprint("AdaptiveSparkPlan isFinalPlan=false\n+- Scan")
