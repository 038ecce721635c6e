"""Spans around the calls into each layer, and counters read back from
Spark's status store.

Spans are recorded by wrapping the package's layer entry points from the
outside (nothing in the package changes). Each span keeps its name,
start, end, parent span and run id; the list stays in memory and is
written out once, when the run ends.

Counters come from two status stores, both readable with the UI off:
``SparkContext.statusStore`` (jobs, stages, task metrics) and the SQL
store of the shared state (SQL executions and their plan-node metrics).
Jobs are attributed through the job group the benchmark sets around
each call; stream micro-batches run under their own group and are
attributed by submission time to the drain that was running.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time
from dataclasses import dataclass, field

# Source readers wrapped in a traced run (see ``instrument``).
READ_FUNCS = ("load_table", "load_csv", "load_csv_glob", "load_json",
              "load_column_dict_json")
# Task metrics summed per stage, reported as ``exec.<name>``.
STAGE_METRICS = ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                 "task_deserialize_ms", "input_bytes", "shuffle_write_bytes",
                 "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
                 "failed_tasks")

PYTHON_METRICS = {
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; one per run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        # Attributes such as the operation and pass carry down to children.
        inherited = dict(self.spans[parent].attrs) if parent is not None else {}
        sp = Span(name, time.time(), 0.0, parent, self.run_id, {**inherited, **attrs})
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def total(self, name: str, **match) -> float:
        """Summed duration of spans called ``name`` whose attrs match; a
        span nested in another of the same name is not counted twice."""
        out = 0.0
        for sp in self.spans:
            if sp.name != name or any(sp.attrs.get(k) != v for k, v in match.items()):
                continue
            if self._has_ancestor(sp, name):
                continue
            out += sp.end - sp.start
        return out

    def _has_ancestor(self, sp: Span, name: str) -> bool:
        p = sp.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, sp in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **sp.__dict__}) + "\n")


@contextlib.contextmanager
def job_group(sc, group: str):
    """Attribute every job submitted inside to ``group``; restores the
    enclosing group on exit."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group, False)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev_desc or prev, False)


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def instrument(tracer: Tracer, sc, tag: str):
    """Wrap the sources, ml and pipelines entry points with spans, and a
    job group per call. Every package module that imported one of them by
    name gets the wrapper. Returns a function that undoes the wrapping."""
    import sys

    from big_data_imdb_classifier_spark.ml import pipeline as ml_pipeline
    from big_data_imdb_classifier_spark.pipelines import imdb as pipelines_imdb
    from big_data_imdb_classifier_spark.sources import readers, sinks

    def wrap(fn, layer, sink_path_arg=None):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            current = sc.getLocalProperty("spark.jobGroup.id") or tag
            with tracer.span(layer, fn=fn.__name__) as sp, \
                    job_group(sc, f"{current}|{layer}"):
                out = fn(*args, **kwargs)
            if sink_path_arg is not None:
                sp.attrs["bytes"] = _dir_bytes(args[sink_path_arg])
            return out
        return inner

    layers = [(getattr(readers, n), "sources.read", None) for n in READ_FUNCS] + [
        (sinks.save_predictions_txt, "sources.sink", 1),
        (ml_pipeline.save_model, "sources.sink", 1),
        (ml_pipeline.train, "ml.fit", None),
        (pipelines_imdb.load_imdb, "pipelines.load", None),
        (pipelines_imdb.build_features, "pipelines.features", None),
    ]
    targets = {id(fn): wrap(fn, layer, path_arg) for fn, layer, path_arg in layers}

    patched = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("big_data_imdb_classifier_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in targets:
                setattr(mod, attr, targets[id(val)])
                patched.append((mod, attr, val))

    def undo():
        for mod, attr, val in patched:
            setattr(mod, attr, val)

    return undo


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date) -> int | None:
    return None if date is None else int(date.getTime())


def _parse_metric(text: str) -> float:
    """A formatted SQL metric ("1.2 s", "total (min, ...)\\n3.5 MiB (...)",
    "1,234") as a number in ms or bytes."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


def drain_listener_bus(sc) -> None:
    """Wait until the status stores have seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _ints(seq) -> list[int]:
    """A Scala collection of ints, in one py4j call."""
    text = seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def read_jobs(sc) -> list[dict]:
    store = sc._jsc.sc().statusStore()
    jl = store.jobsList(None)
    jobs = []
    for i in range(jl.size()):
        j = jl.apply(i)
        jobs.append({
            "job_id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "submitted_ms": _ms(_opt(j.submissionTime())),
            "completed_ms": _ms(_opt(j.completionTime())),
            "stage_ids": _ints(j.stageIds()),
        })
    return jobs


def read_stages(sc, wanted: set[int]) -> dict[int, dict]:
    """Task metrics summed per stage, for the ``wanted`` stage ids that
    ran (a skipped stage reused an earlier shuffle and did no work)."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    # Spark 4.1 signature: stageList(statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus); py4j cannot use Scala defaults.
    sl = store.stageList(jvm.java.util.ArrayList(), False, False,
                         sc._gateway.new_array(jvm.double, 0),
                         jvm.java.util.ArrayList())
    stages = {}
    for i in range(sl.size()):
        s = sl.apply(i)
        sid = s.stageId()
        if sid not in wanted or s.status().toString() == "SKIPPED":
            continue
        row = stages.setdefault(sid, dict.fromkeys(STAGE_METRICS, 0))
        row["tasks"] += s.numTasks()
        row["executor_run_ms"] += s.executorRunTime()
        row["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        row["gc_ms"] += s.jvmGcTime()
        row["task_deserialize_ms"] += s.executorDeserializeTime()
        row["input_bytes"] += s.inputBytes()
        row["shuffle_write_bytes"] += s.shuffleWriteBytes()
        row["shuffle_read_bytes"] += s.shuffleReadBytes()
        row["fetch_wait_ms"] += s.shuffleFetchWaitTime()
        row["spill_bytes"] += s.diskBytesSpilled()
        row["failed_tasks"] += s.numFailedTasks()
    return stages


_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,\x01]*),(\d+),\w+\)")


def read_sql_executions(spark, wanted_jobs: set[int]) -> list[dict]:
    """SQL executions that ran any of ``wanted_jobs``: their jobs, timing,
    and the Python-boundary metrics summed over their plan nodes
    (deduplicated by accumulator, since each adaptive re-plan lists the
    same metrics again)."""
    sql = spark._jsparkSession.sharedState().statusStore()
    el = sql.executionsList()
    out = []
    for i in range(el.size()):
        e = el.apply(i)
        job_ids = _ints(e.jobs().keySet())
        if not wanted_jobs.intersection(job_ids):
            continue
        values = sql.executionMetrics(e.executionId())
        py = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        accumulators = {int(acc): PYTHON_METRICS[name] for name, acc in
                        _PLAN_METRIC.findall(e.metrics().mkString("\x01"))
                        if name in PYTHON_METRICS}
        for acc, key in accumulators.items():
            v = values.get(acc)
            if v.isDefined():
                py[key] += _parse_metric(v.get())
        out.append({
            "submitted_ms": int(e.submissionTime()),
            "completed_ms": _ms(_opt(e.completionTime())),
            "job_ids": job_ids,
            "python": py,
        })
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_counters(jobs: list[dict], stages: dict[int, dict],
                   executions: list[dict], owner: dict[int, tuple[str, str]],
                   ) -> dict[str, float]:
    """Per-layer counters over the jobs in ``owner`` (job id -> (op,
    phase), phase one of ``read``/``build``/``pipelines``/``exec``/``fit``/
    ``drain``)."""
    c: dict[str, float] = {
        "sources.read_jobs": 0, "plans.build_jobs": 0, "pipelines.jobs": 0,
        "ml.fit_jobs": 0,
        "exec.jobs": 0, "exec.stages": 0, "exec.plan_ms": 0,
        "exec.driver_gap_ms": 0,
    }
    for k in STAGE_METRICS:
        c[f"exec.{k}"] = 0
    for v in PYTHON_METRICS.values():
        c[v] = 0.0
    by_id = {j["job_id"]: j for j in jobs}
    exec_jobs = set()
    for jid, (_, phase) in owner.items():
        if phase == "read":
            c["sources.read_jobs"] += 1
        elif phase == "build":
            c["plans.build_jobs"] += 1
        elif phase == "pipelines":
            c["pipelines.jobs"] += 1
        elif phase == "fit":
            c["ml.fit_jobs"] += 1
        else:
            exec_jobs.add(jid)
    c["exec.jobs"] = len(exec_jobs)
    seen_stages = set()
    for jid in exec_jobs:
        for sid in by_id[jid]["stage_ids"]:
            if sid in stages and sid not in seen_stages:
                seen_stages.add(sid)
                for k, v in stages[sid].items():
                    c[f"exec.{k}"] += v
    c["exec.stages"] = len(seen_stages)
    for e in executions:
        mine = [j for j in e["job_ids"] if j in owner]
        if not mine:
            continue
        for k, v in e["python"].items():
            c[k] += v
        if not set(mine) & exec_jobs:
            continue
        spans = [(by_id[j]["submitted_ms"], by_id[j]["completed_ms"])
                 for j in e["job_ids"] if j in by_id
                 and by_id[j]["submitted_ms"] is not None
                 and by_id[j]["completed_ms"] is not None]
        if spans and e["completed_ms"] is not None:
            c["exec.plan_ms"] += max(0, min(a for a, _ in spans) - e["submitted_ms"])
            c["exec.driver_gap_ms"] += max(
                0, (e["completed_ms"] - e["submitted_ms"]) - _union_ms(spans))
    c["exec.shuffle_per_input"] = (
        c["exec.shuffle_write_bytes"] / c["exec.input_bytes"]
        if c["exec.input_bytes"] else 0.0
    )
    return c


def streaming_counters(progress: list) -> dict[str, float]:
    """Micro-batch count, durations and state-store figures from one
    query's ``recentProgress``."""
    c = {"streaming.batches": len(progress), "streaming.trigger_ms": 0,
         "streaming.add_batch_ms": 0, "streaming.planning_ms": 0,
         "streaming.wal_commit_ms": 0, "streaming.state_rows": 0,
         "streaming.state_mem_bytes": 0, "streaming.state_commit_ms": 0}
    for i, p in enumerate(progress):
        d = dict(p["durationMs"] or {})
        c["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        c["streaming.add_batch_ms"] += d.get("addBatch", 0)
        c["streaming.planning_ms"] += d.get("queryPlanning", 0)
        c["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        for so in map(dict, p["stateOperators"] or []):
            c["streaming.state_commit_ms"] += so.get("commitTimeMs", 0) or 0
            if i == len(progress) - 1:  # state size after the last batch
                c["streaming.state_rows"] += so.get("numRowsTotal", 0) or 0
                c["streaming.state_mem_bytes"] += so.get("memoryUsedBytes", 0) or 0
    return c
