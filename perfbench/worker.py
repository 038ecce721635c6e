"""One benchmark run inside the program's own process.

Started by ``run.py`` with the checkout root as working directory and a
JSON config path as its only argument. It sets up the session, runs the
workload, writes every operation's output for ``run.py`` to check, and
writes a result JSON. Output checks and the oracles live in ``run.py``;
this process never sees them.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402

# Measured passes per run, at least; more while --seconds have not passed.
MIN_PASSES = 3

# Stream drain timeout: far above a drain's normal time, far below the
# run's limit, so a stuck drain shows as a failed operation.
DRAIN_TIMEOUT_S = 45

# Counters that must repeat exactly on the same input; a traced run
# compares them across its passes.
REPEATING = ("sources.read_jobs", "plans.build_jobs", "pipelines.jobs", "exec.jobs",
             "exec.stages", "exec.tasks", "exec.shuffle_write_bytes", "ml.fit_jobs")

# Suffix a layer wrapper appends to the job group -> phase of its jobs.
LAYER_PHASE = {
    "sources.read": "read", "ml.fit": "fit", "pipelines.load": "pipelines",
    "pipelines.features": "pipelines", "sources.sink": "exec",
}


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.tag = cfg["workload"]
        self.tracer = tr.Tracer(cfg["run_id"]) if cfg["trace"] else None
        self.records: list[dict] = []
        self.stream_counters: dict[tuple[str, int], dict] = {}
        # (start, end, op, pass) of each drain, in epoch seconds.
        self.drain_windows: list[tuple[float, float, str, int]] = []

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def group(self, op: str, pass_no: int, phase: str) -> str:
        return f"{self.tag}:{op}:p{pass_no}:{phase}"

    # -- query_mix -----------------------------------------------------
    def run_op(self, spark, op: str, pass_no: int) -> None:
        from big_data_imdb_classifier_spark import plans

        sc = spark.sparkContext
        data_dir = self.cfg["data_dir"]
        rec = {"op": op, "pass": pass_no, "error": None}
        t0 = time.perf_counter()
        try:
            if op in plans.QUERIES:
                with self.span("plans", op=op, p=pass_no), \
                        tr.job_group(sc, self.group(op, pass_no, "build")):
                    df = plans.QUERIES[op](spark, data_dir)
                with self.span("exec", op=op, p=pass_no), \
                        tr.job_group(sc, self.group(op, pass_no, "exec")):
                    pdf = df.toPandas()
                rec["seconds"] = time.perf_counter() - t0
            else:
                pdf = self.drain(spark, op, pass_no)
                rec["seconds"] = time.perf_counter() - t0
                rec["active_after"] = [q.name for q in spark.streams.active]
                for q in spark.streams.active:
                    q.stop()
            path = os.path.join(self.cfg["out_dir"], f"p{pass_no}_{op}.parquet")
            pdf.to_parquet(path)
            rec["output"] = path
        except Exception:  # one failed operation; the run goes on
            rec["seconds"] = time.perf_counter() - t0
            rec["error"] = traceback.format_exc(limit=3)
        self.records.append(rec)

    def drain(self, spark, op: str, pass_no: int):
        from big_data_imdb_classifier_spark.streaming import streams as S

        start = time.time()
        with self.span("streaming", op=op, p=pass_no), \
                tr.job_group(spark.sparkContext, self.group(op, pass_no, "drain")):
            events = S.load_events_stream(spark, self.cfg["data_dir"])
            out, progress = S.run_to_memory(
                spark, S.tumbling_counts_stream(events), f"pb_{op}_p{pass_no}",
                output_mode="complete", timeout_sec=DRAIN_TIMEOUT_S, with_progress=True)
            pdf = out.toPandas()
        self.drain_windows.append((start, time.time(), op, pass_no))
        self.stream_counters[(op, pass_no)] = tr.streaming_counters(progress)
        return pdf

    def run_pass(self, spark, pass_no: int) -> float:
        t0 = len(self.records)
        for op in self.cfg["ops"]:
            self.run_op(spark, op, pass_no)
        return sum(r["seconds"] for r in self.records[t0:])

    def query_mix(self, result: dict) -> None:
        from big_data_imdb_classifier_spark import plans
        from big_data_imdb_classifier_spark.session import get_spark

        with self.span("session"):
            spark = get_spark()
        plans.load_all()
        if self.tracer is not None:
            tr.instrument(self.tracer, spark.sparkContext, self.tag)
        # Warm-up: cold JIT, codegen, Python workers.
        self.run_pass(spark, 0)
        result["setup_s"] = time.monotonic() - self.cfg["spawn_t"]

        passes, t_end = [], time.monotonic() + self.cfg["seconds"]
        while len(passes) < MIN_PASSES or time.monotonic() < t_end:
            passes.append(self.run_pass(spark, len(passes) + 1))
        result["pass_s"] = passes
        # One pass of the fixed work, each operation at its median time:
        # a stall in one operation of one pass does not move it.
        per_op: dict[str, list[float]] = {}
        for rec in self.records:
            if rec["pass"] > 0:
                per_op.setdefault(rec["op"], []).append(rec["seconds"])
        result["wall_s"] = sum(statistics.median(v) for v in per_op.values())
        if self.tracer is not None:
            result["layers"] = self.query_mix_layers(spark, len(passes))
        spark.stop()

    def counters(self, spark, n_passes: int) -> list[dict]:
        """Status-store counters of each measured pass."""
        sc = spark.sparkContext
        tr.drain_listener_bus(sc)
        jobs = tr.read_jobs(sc)
        owners = [self.owners(jobs, p) for p in range(1, n_passes + 1)]
        wanted_jobs = set().union(*owners)
        wanted_stages = {s for j in jobs if j["job_id"] in wanted_jobs
                         for s in j["stage_ids"]}
        stages = tr.read_stages(sc, wanted_stages)
        executions = tr.read_sql_executions(spark, wanted_jobs)
        return [tr.layer_counters(jobs, stages, executions, o) for o in owners]

    def query_mix_layers(self, spark, n_passes: int) -> dict:
        per_pass = self.counters(spark, n_passes)
        for p, c in enumerate(per_pass, start=1):
            c["plans.build_s"] = self.tracer.total("plans", p=p) - self.tracer.total(
                "sources.read", p=p)
            c["exec.s"] = self.tracer.total("exec", p=p)
            c["sources.read_s"] = self.tracer.total("sources.read", p=p)
            drains = [v for k, v in self.stream_counters.items() if k[1] == p]
            c["streaming.drain_s"] = self.tracer.total("streaming", p=p)
            for counters in drains:
                for k, v in counters.items():
                    c[k] = c.get(k, 0) + v
            c["streaming.events_per_s"] = (
                len(drains) * self.cfg["n_events"] / c["streaming.drain_s"]
                if c["streaming.drain_s"] else 0.0)
        repeat = [k for k in per_pass[0] if k in REPEATING
                  and len({c[k] for c in per_pass}) > 1]
        layers = {k: statistics.median(c[k] for c in per_pass) for k in per_pass[0]}
        layers["trace.counter_mismatches"] = len(repeat)
        if repeat:
            print(f"counters differ between passes: {repeat}", file=sys.stderr)
        return layers

    def owners(self, jobs: list[dict], pass_no: int) -> dict[int, tuple[str, str]]:
        """Job id -> (op, phase) for the jobs of one pass."""
        owner = {}
        windows = [w for w in self.drain_windows if w[3] == pass_no]
        for j in jobs:
            g = j["group"] or ""
            base, *layers = g.split("|")
            parts = base.split(":")
            if len(parts) == 4 and parts[0] == self.tag:
                if parts[2] != f"p{pass_no}":
                    continue
                phase = LAYER_PHASE.get(layers[-1], parts[3]) if layers else parts[3]
                owner[j["job_id"]] = (parts[1], phase)
            elif j["submitted_ms"] is not None:
                # Stream micro-batches run under the query's own group.
                t = j["submitted_ms"] / 1000.0
                for start, end, op, _ in windows:
                    if start <= t <= end:
                        owner[j["job_id"]] = (op, "drain")
        return owner

    # -- imdb_train_predict -------------------------------------------
    def imdb(self, result: dict) -> None:
        from big_data_imdb_classifier_spark.pipelines import imdb as P
        from big_data_imdb_classifier_spark.session import get_spark

        with self.span("session"):
            spark = get_spark()
        sc = spark.sparkContext
        result["setup_s"] = time.monotonic() - self.cfg["spawn_t"]
        undo = (tr.instrument(self.tracer, sc, self.tag)
                if self.tracer is not None else None)
        out_dir = self.cfg["out_dir"]
        preds_path = os.path.join(out_dir, "validation_preds.txt")
        rec = {"op": "run_imdb", "pass": 1, "error": None}
        t0 = time.perf_counter()
        try:
            with self.span("imdb", p=1), \
                    tr.job_group(sc, self.group("run_imdb", 1, "exec")):
                preds = P.run_imdb(spark, self.cfg["data_dir"], preds_path,
                                   model_path=os.path.join(out_dir, "model"))
            rec["seconds"] = time.perf_counter() - t0
            # Outside the timed region: the ordered predictions, for the
            # check that the TXT lines follow tconst order.
            with tr.job_group(sc, f"{self.tag}:check"):
                preds.orderBy("tconst").toPandas().to_parquet(
                    os.path.join(out_dir, "ordered.parquet"))
            rec["output"] = preds_path
        except Exception:
            rec["seconds"] = time.perf_counter() - t0
            rec["error"] = traceback.format_exc(limit=3)
        self.records.append(rec)
        result["pass_s"] = [rec["seconds"]]
        result["wall_s"] = rec["seconds"]
        if self.tracer is not None:
            undo()
            [c] = self.counters(spark, 1)
            t = self.tracer
            c["sources.read_s"] = t.total("sources.read")
            c["sources.sink_s"] = t.total("sources.sink")
            c["sources.sink_bytes"] = sum(
                sp.attrs.get("bytes", 0) for sp in t.spans if sp.name == "sources.sink")
            c["ml.fit_s"] = t.total("ml.fit")
            c["ml.predict_s"] = t.total("sources.sink", fn="save_predictions_txt")
            c["pipelines.load_s"] = t.total("pipelines.load")
            c["pipelines.features_s"] = t.total("pipelines.features")
            c["exec.s"] = c["ml.predict_s"]
            result["layers"] = c
        spark.stop()


def main() -> None:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    run = Run(cfg)
    result: dict = {}
    if cfg["workload"] == "imdb_train_predict":
        run.imdb(result)
    else:
        run.query_mix(result)
    if run.tracer is not None:
        result["layers"]["session.start_s"] = run.tracer.total("session")
        run.tracer.write(os.path.join(cfg["out_dir"], "spans.jsonl"))
    result["records"] = run.records
    with open(cfg["result_path"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
