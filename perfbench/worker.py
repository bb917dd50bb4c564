"""One measured benchmark process: set-up, a cold pass, an output-check
pass and warm passes over one workload, in a single thread with one query in
flight at a time. ``run.py`` starts it in a fresh per-run directory and
reads the JSON it writes; run it through ``run.py``, not by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from fingerprint import fingerprint  # noqa: E402
from measure import vm_hwm_mb  # noqa: E402
from spark_layers import SparkLayers, job_coverage  # noqa: E402
from workloads import WORKLOADS, pass_order, warm_passes, warmup_passes  # noqa: E402


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, required=True,
                   help="wall clock when the parent started this process")
    return p.parse_args()


class Runner:
    def __init__(self, args, queries, spark, layers) -> None:
        self.args = args
        self.queries = queries
        self.spark = spark
        self.layers = layers
        self.spans: list[dict] = []
        self.run_span = self.span("run", time.time(), None)

    def span(self, name, start, end, parent=None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return len(self.spans) - 1

    def query(self, name: str, traced: bool, pass_span: int | None) -> dict:
        L = self.layers
        rec: dict = {"query": name, "ok": True}
        build_group, action_group = f"pb/{name}/build", f"pb/{name}/action"
        if traced:
            L.drain()
            sql0, cg0, plan0 = L.last_sql_execution(), L.codegen(), len(L.plans.phases)
            L.set_group(build_group)
        t0 = time.time()
        try:
            df = self.queries[name].fn(self.spark, self.args.data)
            t1 = time.time()
            if traced:
                L.set_group(action_group)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500],
                       wall=time.time() - t0)
            return rec
        finally:
            if traced:
                L.clear_group()
        rec["wall"] = t2 - t0
        if traced:
            self._collect(rec, name, df, (t0, t1, t2), (sql0, cg0, plan0), pass_span,
                          build_group, action_group)
        return rec

    def _collect(self, rec, name, df, times, marks, pass_span,
                 build_group, action_group) -> None:
        L = self.layers
        t0, t1, t2 = times
        sql0, cg0, plan0 = marks
        L.drain()
        build_jobs, action_jobs = L.jobs(build_group), L.jobs(action_group)
        cg1 = L.codegen()
        qspan = self.span("query", t0, t2, pass_span, query=name)
        for label, lo, hi, jobs in (("build", t0, t1, build_jobs),
                                    ("action", t1, t2, action_jobs)):
            sid = self.span(label, lo, hi, qspan, query=name)
            for j in jobs:
                if j["start"] is not None and j["end"] is not None:
                    self.span("job", j["start"], j["end"], sid, query=name, job=j["id"])
        build_s, action_s = t1 - t0, t2 - t1
        build_job_s = job_coverage(build_jobs, t0, t1)
        exec_s = job_coverage(action_jobs, t1, t2)
        all_jobs = build_jobs + action_jobs
        # job time Spark's clock puts outside the span that launched the job
        clock_error = sum(
            (j["end"] - j["start"]) - job_coverage([j], lo, hi)
            for jobs, lo, hi in ((build_jobs, t0, t1), (action_jobs, t1, t2))
            for j in jobs if j["start"] is not None and j["end"] is not None)
        rec.update({
            "build.s": build_s, "build.jobs": len(build_jobs),
            "build.job_s": build_job_s, "build.self_s": build_s - build_job_s,
            "codegen.compiles": cg1[0] - cg0[0], "codegen.compile_s": cg1[1] - cg0[1],
            "exec.s": exec_s, "exec.jobs": len(action_jobs),
            "action.s": action_s, "action.self_s": action_s - exec_s,
            "layers.clock_error_s": clock_error,
        })
        rec.update(L.plan_phases(df, plan0))
        rec.update(L.stages([s for j in all_jobs for s in j["stages"]]))
        rec.update(L.sql_metrics(sql0, L.last_sql_execution()))
        rec.update(L.cache())

    def run_pass(self, index: int, kind: str, traced: bool) -> dict:
        if traced:
            self.layers.listen(True)
        start = time.time()
        pspan = self.span("pass", start, start, self.run_span, index=index,
                          kind=kind) if traced else None
        recs = [self.query(n, traced, pspan)
                for n in pass_order(self.args.workload, self.args.seed, index)]
        end = time.time()
        if traced:
            self.spans[pspan]["end"] = end
            self.layers.listen(False)
        return {"index": index, "kind": kind, "traced": traced, "wall": end - start,
                "queries": recs, **self.layers.cache()}

    def check(self) -> dict:
        """Run every query once more, outside the timed passes, and
        fingerprint its collected result. It runs between the cold pass and
        the warm passes, so it also warms the session up for them. The timed
        passes keep no DataFrame alive after its query, so Spark can clean
        up after each query as it would in the program."""
        out = {}
        for name in WORKLOADS[self.args.workload]["queries"]:
            try:
                df = self.queries[name].fn(self.spark, self.args.data)
                fp = fingerprint(df.columns, df.collect())
                fp["schema"] = df.schema.simpleString()
                out[name] = fp
            except Exception as exc:  # noqa: BLE001
                out[name] = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        return out


def main() -> None:
    args = _args()
    # Sink queries write under the package's scratch dir; keep those
    # writes inside this run's directory.
    import big_data_audio_classification_spark.scratch as scratch

    scratch.SCRATCH_DIR = os.path.join(os.getcwd(), "sink")
    from big_data_audio_classification_spark.registry import all_queries
    from big_data_audio_classification_spark.session import get_spark

    queries = all_queries()
    t_import = time.time()
    spark = get_spark("perfbench")
    t_session = time.time()

    runner = Runner(args, queries, spark, SparkLayers(spark))
    traced = bool(args.trace)
    passes = [runner.run_pass(0, "cold", traced)]
    check = runner.check()
    n_warm = warm_passes(args.workload, args.seconds, traced)
    warmup = warmup_passes(args.workload, n_warm)
    for i in range(n_warm):
        # traced runs alternate collection on and off to price the tracing
        passes.append(runner.run_pass(i + 1, "warm", traced and i % 2 == 0))
        passes[-1]["settled"] = i >= warmup
    runner.spans[runner.run_span]["end"] = time.time()
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    result = {
        "setup": {"setup_s": t_session - args.t0, "setup.import_s": t_import - args.t0,
                  "setup.session_s": t_session - t_import},
        "passes": passes,
        "check": check,
        "peak_rss_mb": vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid),
        "spans": runner.spans,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
