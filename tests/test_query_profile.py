"""tools/query_profile.py, loaded in-process on the test session."""

from __future__ import annotations

import importlib.util
import os

import pytest

from big_data_imdb_classifier_spark import plans

from .conftest import SF_SMOKE

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "query_profile.py")

RECORD_KEYS = {
    "query", "construction_s", "execution_s", "construction_jobs",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.plan_ms", "exec.driver_gap_ms",
    "exec.executor_run_ms", "exec.executor_cpu_ms", "exec.gc_ms",
    "exec.task_deserialize_ms", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.fetch_wait_ms", "exec.spill_bytes",
    "exec.failed_tasks", "exec.shuffle_per_input",
    "python.run_ms", "python.start_ms", "python.init_ms", "python.bytes_sent",
    "python.bytes_returned",
    "stages", "plan_is_final", "plan",
}


@pytest.fixture(scope="module")
def query_profile():
    spec = importlib.util.spec_from_file_location("query_profile", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    plans.load_all()
    return mod


def test_profile_record_repeats(spark, query_profile):
    a, b = (query_profile.profile(spark, "pricing_summary", SF_SMOKE) for _ in range(2))
    assert set(a) == RECORD_KEYS
    assert a["construction_jobs"] == b["construction_jobs"] == 0
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes"):
        assert a[k] == b[k], k
    assert a["exec.jobs"] > 0 and a["exec.shuffle_write_bytes"] > 0
    assert len(a["stages"]) == a["exec.stages"]
    assert {s["phase"] for s in a["stages"]} == {"exec"}
    # Query stages exist only in an executed adaptive plan.
    assert a["plan_is_final"] and b["plan_is_final"]
    assert a["plan"] == b["plan"]
    assert a["plan"]["ShuffleQueryStage"] >= 1 and a["plan"]["Scan parquet"] == 1


def test_final_plan_counts_skip_the_initial_plan(query_profile):
    plan = """\
== Physical Plan ==
OverwriteByExpression (9)
+- AdaptiveSparkPlan (8)
   +- == Final Plan ==
      ResultQueryStage (5)
      +- * HashAggregate (4)
         +- ShuffleQueryStage (3), Statistics(sizeInBytes=40.0 B)
            +- Exchange (2)
               +- Scan parquet  (1)
   +- == Initial Plan ==
      HashAggregate (7)
      +- Exchange (6)
         +- Scan parquet  (1)


(1) Scan parquet
Output [1]: [x#1]

(2) Exchange
Arguments: hashpartitioning(x#1, 8), ENSURE_REQUIREMENTS, [plan_id=1]
"""
    counts = query_profile.final_plan_counts(plan)
    assert counts == {"Exchange": 1, "BroadcastExchange": 0, "ReusedExchange": 0,
                      "ShuffleQueryStage": 1, "BroadcastQueryStage": 0, "Scan parquet": 1}
