"""Repository benchmark: seeded workloads against the package's public
functions, end-to-end metrics, per-layer counters and output checks.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Workloads (the seed makes every input and the order of operations):

* ``query_mix``: five registry queries (three JVM-only TPC-H queries,
  two with Arrow Python nodes) and one availableNow stream drain, over
  generated tables at scale factor 0.01, in one warm session. An untimed
  warm-up pass runs inside set-up; then passes repeat, at least three and
  for at least ``--seconds``. ``wall_s`` is one pass with every
  operation at its median time.
* ``imdb_train_predict``: the paper's own run, ``run_imdb`` on a
  generated IMDB-shaped fixture, cold in a fresh process as its CLI users
  run it; ``wall_s`` is that one call.

``setup_s`` runs from the start of the program's process until the
session is up, the plans are loaded and the warm-up pass is done.
``run.peak_rss_mb`` is the largest resident size of the program's process
tree: the JVM's RSS plus the proportional set size of each Python
process. It is a per-layer figure, not a bounded one: the JVM grows its
heap by GC ergonomics, and over ten seeds on a 4-core host the peak of
the cold IMDB run had an interquartile range of 0.24 of its median.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
traced run that prints the per-layer metrics and writes its spans to
``.perfbench-spans/<workload>-<seed>.jsonl``; the tracing overhead is its
``trace.wall_s`` minus the untraced ``wall_s``.

Every output is checked outside the timed region: query results against
the registry's DuckDB oracles (row count and order-insensitive values),
stream drains against DuckDB results over the same events, the IMDB TXT
against the fitted model and the held-out labels. A wrong or failed
output counts in ``failed``; ``correct`` is true only when none failed.

The program runs in a child process started with the checkout root as
working directory; this process samples the RSS of the child's process
tree (JVM and Python workers included) at a fixed interval.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402

PACKAGE = "big_data_imdb_classifier_spark"
WORK = ".perfbench"
SPANS_DIR = ".perfbench-spans"
# Program-side state a run may leave in the checkout; emptied before each
# run, and its size after the run is reported.
PROGRAM_STATE = (".cache/ml_models", ".cache/layout", ".cache/sources",
                 "spark-warehouse", "metastore_db")
RUN_LIMIT_S = 170
RSS_INTERVAL_S = 0.2

QUERIES = [
    # JVM only: parquet reads (one schema job each), joins, shuffles, and
    # the eight construction jobs of the exact-quantile operator.
    "pricing_summary",
    "tpch_q5_local_supplier_volume",
    "stats_percentiles_by_flag",
    # Arrow Python nodes (mapInPandas, pandas UDFs).
    "mm_decode_metadata",
    "enrich_mock_llm_topics",
]
TUMBLING = "stream_tumbling_counts"  # watermark, state store
WORKLOADS = ("query_mix", "imdb_train_predict")
IMDB_ACCURACY_FLOOR = 0.70

END_TO_END = {"setup_s": "s", "wall_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s", "sources.read_jobs": "count",
    "sources.sink_s": "s", "sources.sink_bytes": "bytes",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.plan_ms": "ms", "exec.driver_gap_ms": "ms",
    "exec.executor_run_ms": "ms", "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.task_deserialize_ms": "ms",
    "exec.input_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.fetch_wait_ms": "ms",
    "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "exec.shuffle_per_input": "ratio",
    "python.run_ms": "ms", "python.start_ms": "ms", "python.init_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "ml.fit_s": "s", "ml.fit_jobs": "count", "ml.predict_s": "s",
    "ml.holdout_accuracy": "ratio",
    "pipelines.load_s": "s", "pipelines.features_s": "s",
    "pipelines.jobs": "count",
    "streaming.drain_s": "s", "streaming.batches": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "streaming.state_commit_ms": "ms", "streaming.events_per_s": "1/s",
    "run.peak_rss_mb": "MB", "run.jvm_rss_mb": "MB", "run.python_pss_mb": "MB",
    "run.leftover_bytes": "bytes",
    "trace.wall_s": "s", "trace.counter_mismatches": "count",
}

# The tumbling drain's expected output, computed by DuckDB over the same
# events.
TUMBLING_SQL = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events GROUP BY ALL"""


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # a file removed while walking
                pass
    return total


def clear_state(root: str) -> None:
    for rel in PROGRAM_STATE + (WORK,):
        shutil.rmtree(os.path.join(root, rel), ignore_errors=True)


# -- inputs and expected outputs ---------------------------------------------

def query_mix_inputs(data_dir: str, seed: int) -> tuple[dict, dict]:
    """Generate the tables; return (worker config part, expectations)."""
    import duckdb

    import datagen

    rows = datagen.generate(data_dir, seed)
    sys.path.insert(0, os.getcwd())
    from big_data_imdb_classifier_spark import plans

    plans.load_all()
    ops = QUERIES + [TUMBLING]
    random.Random(seed).shuffle(ops)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for table in rows:
            path = os.path.join(data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        want = {}
        for q in QUERIES:
            df = con.execute(plans.ORACLES[q]).df()
            want[q] = (list(df.columns), checks.canon_rows(df))
        want[TUMBLING] = con.execute(TUMBLING_SQL).df()
    finally:
        con.close()
    return {"ops": ops, "n_events": rows["events"]}, want


def check_query_mix(records: list[dict], want: dict) -> list[str]:
    import pandas as pd

    failures = []
    for rec in records:
        op, reason = rec["op"], rec["error"]
        if reason is None:
            got = pd.read_parquet(rec["output"])
            if op in QUERIES:
                reason = checks.check_table(got, *want[op])
            else:
                reason = (checks.check_drain(rec["active_after"])
                          or checks.check_tumbling_counts(got, want[op]))
        if reason is not None:
            failures.append(f"{op} (pass {rec['pass']}): {reason.strip()}")
    return failures


def imdb_inputs(data_dir: str, seed: int):
    import imdb_fixture

    fx = imdb_fixture.generate(data_dir, seed)
    return {"ops": ["run_imdb"]}, fx


def check_imdb(records: list[dict], fx, out_dir: str) -> tuple[list[str], float]:
    import glob

    import pandas as pd

    rec = records[0]
    if rec["error"] is not None:
        return [f"run_imdb: {rec['error'].strip()}"], 0.0
    parts = sorted(glob.glob(os.path.join(rec["output"], "part-*")))
    if len(parts) != 1:
        return [f"run_imdb: {len(parts)} part files, expected 1"], 0.0
    with open(parts[0]) as fh:
        lines = fh.read().splitlines()
    ordered = pd.read_parquet(os.path.join(out_dir, "ordered.parquet"))
    reason, accuracy = checks.check_predictions(
        lines, ordered, fx.validation_ids, fx.validation_truth, IMDB_ACCURACY_FLOOR)
    return ([f"run_imdb: {reason}"] if reason else []), accuracy


# -- the child process ---------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _process_bytes(pid: int) -> tuple[bool, int]:
    """(is the JVM, resident bytes) of one process. Forked Python workers
    share pages with their parent, so for them the proportional set size
    is used; the JVM shares nothing and its RSS is far cheaper to read."""
    with open(f"/proc/{pid}/comm") as fh:
        is_jvm = fh.read().strip() == "java"
    if is_jvm:
        with open(f"/proc/{pid}/statm") as fh:
            return True, int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return False, int(line.split()[1]) * 1024
    return False, 0


def tree_rss_bytes(pid: int) -> tuple[int, int]:
    """Resident bytes of the process tree under ``pid``: (JVM, the rest)."""
    kids, jvm, rest, todo = _children(), 0, 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            is_jvm, size = _process_bytes(p)
        except OSError:  # the process ended between listing and reading
            continue
        if is_jvm:
            jvm += size
        else:
            rest += size
    return jvm, rest


class RssSampler(threading.Thread):
    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self.peak_jvm, self.peak_rest = pid, 0, 0, 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(RSS_INTERVAL_S):
            jvm, rest = tree_rss_bytes(self.pid)
            self.peak = max(self.peak, jvm + rest)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_rest = max(self.peak_rest, rest)


def run_worker(root: str, cfg: dict, log_path: str,
               deadline: float) -> tuple[dict | None, RssSampler]:
    """Run the workload in a child process; returns (result, RSS peaks)."""
    tmp = os.path.join(root, WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), TMPDIR=tmp,
               SPARK_LOCAL_DIRS=tmp, PYTHONHASHSEED="0",
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}")
    env.pop("OMP_NUM_THREADS", None)
    cfg_path = os.path.join(root, WORK, "config.json")
    cfg["spawn_t"] = time.monotonic()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=root, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            log("run limit reached; stopping the program")
        finally:
            sampler.done.set()
            sampler.join()
            stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(cfg["result_path"]):
        return None, sampler
    with open(cfg["result_path"]) as fh:
        return json.load(fh), sampler


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the child and everything it started (JVM, Python workers)."""
    for sig, wait in ((signal.SIGTERM, 5), (signal.SIGKILL, 5)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=wait)
        except subprocess.TimeoutExpired:
            continue
        # The leader exited; give the rest of the group a moment.
        end = time.monotonic() + wait
        while time.monotonic() < end:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    start = time.monotonic()
    # A terminated benchmark still stops the program it started: SystemExit
    # unwinds through run_worker's ``finally``.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE}/ package in {root}; run from the repository root")
        return 2

    clear_state(root)
    work = os.path.join(root, WORK)
    data_dir = os.path.join(work, "inputs")
    out_dir = os.path.join(work, "outputs")
    os.makedirs(out_dir)
    if args.workload == "query_mix":
        cfg, want = query_mix_inputs(data_dir, args.seed)
    else:
        cfg, want = imdb_inputs(data_dir, args.seed)
    cfg.update(workload=args.workload, seconds=args.seconds, trace=args.trace,
               data_dir=data_dir, out_dir=out_dir,
               run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
               result_path=os.path.join(work, "result.json"))
    log_path = os.path.join(work, "program.log")
    result, rss = run_worker(root, cfg, log_path, start + RUN_LIMIT_S)
    if result is None:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        log(f"the program did not finish; log tail:\n{tail}")
        clear_state(root)
        return 1

    records = result["records"]
    accuracy = 0.0
    if args.workload == "query_mix":
        failures = check_query_mix(records, want)
    else:
        failures, accuracy = check_imdb(records, want, out_dir)
    for f in failures:
        log(f"FAILED {f}")
    per_op: dict[str, list[float]] = {}
    for rec in records:
        per_op.setdefault(rec["op"], []).append(round(rec["seconds"], 2))
    log(f"seconds per operation, by pass: {per_op}")
    leftover = sum(dir_bytes(os.path.join(root, rel)) for rel in PROGRAM_STATE)
    leftover += dir_bytes(os.path.join(work, "tmp"))
    log(f"{args.workload} seed={args.seed}: setup {result['setup_s']:.2f}s, "
        f"passes {[round(s, 2) for s in result['pass_s']]}, "
        f"peak RSS {rss.peak / 2**20:.0f} MB (JVM {rss.peak_jvm / 2**20:.0f}, "
        f"Python {rss.peak_rest / 2**20:.0f}), left behind {leftover} bytes, "
        f"holdout accuracy {accuracy:.3f}")

    if args.trace:
        spans = os.path.join(out_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(root, SPANS_DIR), exist_ok=True)
            shutil.copyfile(spans, os.path.join(
                root, SPANS_DIR, f"{args.workload}-{args.seed}.jsonl"))
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(result.get("layers", {}))
        layers["ml.holdout_accuracy"] = accuracy
        layers["run.peak_rss_mb"] = rss.peak / 2**20
        layers["run.jvm_rss_mb"] = rss.peak_jvm / 2**20
        layers["run.python_pss_mb"] = rss.peak_rest / 2**20
        layers["run.leftover_bytes"] = leftover
        layers["trace.wall_s"] = result["wall_s"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": result[k], "unit": u} for k, u in END_TO_END.items()}
    clear_state(root)
    print(json.dumps({"correct": not failures, "attempted": len(records),
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
