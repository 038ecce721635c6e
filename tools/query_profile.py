"""Per-phase Spark counters of named registry queries.

Each query is built under the job group ``<tag>|build`` and executed by a
noop write under ``<tag>|exec``; jobs, stages and SQL executions are read
back from Spark's status stores through ``perfbench/tracing.py``. The JSON
record per query holds construction and execution seconds, construction
jobs, the ``exec.*`` and ``python.*`` counters, task metrics per stage,
and node counts of the final adaptive plan.

Usage, from the repository root:
    python tools/query_profile.py [--sf-dir DIR] query [query...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import tracing as tr  # noqa: E402

PLAN_NODES = ("Exchange", "BroadcastExchange", "ReusedExchange",
              "ShuffleQueryStage", "BroadcastQueryStage", "Scan parquet")
# A node line of a formatted plan tree, e.g. "+- * HashAggregate (45)".
_NODE = re.compile(r"(?:\* )?(Scan parquet|\w+)[^()]*\(\d+\)")


def final_plan_counts(plan: str) -> dict[str, int]:
    """Counts of ``PLAN_NODES`` over the tree lines of a formatted plan,
    skipping every ``== Initial Plan ==`` subtree."""
    counts = dict.fromkeys(PLAN_NODES, 0)
    initial_col = None
    for line in plan.splitlines():
        body = line.lstrip(" :|+-")
        col = len(line) - len(body)
        if initial_col is not None and body and col >= initial_col:
            continue
        initial_col = col if body.startswith("== Initial Plan ==") else None
        m = _NODE.match(body)
        if m and m.group(1) in counts:
            counts[m.group(1)] += 1
    return counts


def profile(spark, name: str, sf_dir: str) -> dict:
    """Build and run one registry query; its record."""
    from big_data_imdb_classifier_spark import plans

    sc = spark.sparkContext
    tag = f"{name}#{time.monotonic_ns()}"
    t0 = time.perf_counter()
    with tr.job_group(sc, f"{tag}|build"):
        df = plans.QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    with tr.job_group(sc, f"{tag}|exec"):
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    # A frame the query persisted would serve the next run from cache.
    spark.catalog.clearCache()

    tr.drain_listener_bus(sc)
    jobs = tr.read_jobs(sc)
    owner = {j["job_id"]: (name, j["group"].rsplit("|", 1)[1]) for j in jobs
             if (j["group"] or "").startswith(f"{tag}|")}
    # A stage ran in the first job that lists it; later jobs skip it.
    phase = {s: owner[j["job_id"]][1] for j in sorted(jobs, key=lambda j: -j["job_id"])
             if j["job_id"] in owner for s in j["stage_ids"]}
    stages = tr.read_stages(sc, set(phase))
    counters = tr.layer_counters(
        jobs, stages, tr.read_sql_executions(spark, set(owner)), owner)
    # The noop write is the newest SQL execution; its description was
    # replaced by the final adaptive plan when the write finished.
    sql = spark._jsparkSession.sharedState().statusStore()
    plan = sql.executionsList(sql.executionsCount() - 1, 1).head().physicalPlanDescription()
    return {
        "query": name,
        "construction_s": round(t1 - t0, 3),
        "execution_s": round(t2 - t1, 3),
        "construction_jobs": counters["plans.build_jobs"],
        **{k: v for k, v in counters.items() if k.startswith(("exec.", "python."))},
        "stages": [{"stage_id": s, "phase": phase[s], **row} for s, row in sorted(stages.items())],
        "plan_is_final": "isFinalPlan=true" in plan and "isFinalPlan=false" not in plan,
        "plan": final_plan_counts(plan),
    }


def main() -> None:
    from big_data_imdb_classifier_spark import plans
    from big_data_imdb_classifier_spark.cli import DEFAULT_SF_DIR
    from big_data_imdb_classifier_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+", metavar="query")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = ap.parse_args()
    plans.load_all()
    unknown = sorted(set(args.queries) - set(plans.QUERIES))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    spark = get_spark(app_name="query-profile")
    for name in args.queries:
        print(json.dumps(profile(spark, name, args.sf_dir)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
