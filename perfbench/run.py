"""Benchmark of the engine's query layer, measured from outside the package.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 18 --trace 0

Run from the repository root. The inputs are one generated dataset
(``datagen.py`` with a fixed generator seed, written once under
``.perfbench/data``), whose expected result fingerprints ``expected.json``
holds; the seed fixes the query order of every pass. Each run starts one
fresh worker process (``worker.py``) in its own temporary directory under
``.perfbench/runs``, removed after the run. The worker sets up a Spark
session and runs one cold pass over the workload's queries, one query at a
time, every action a ``noop`` write. It then collects each query's result
once, untimed, for the output check, and runs a fixed number of warm passes
(see ``workloads.warm_passes``).

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of ``BENCHMARK.json`` with ``--trace 1``. A traced run
also writes its per-query layer records and spans to
``.perfbench/traces/`` for ``report.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import math
from statistics import fmean, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_audio_classification_spark"
SF = 0.01
DATA_SEED = 0
DATA_VERSION = 2
EXPECTED = os.path.join(HERE, "expected.json")
WORKER_TIMEOUT_S = 140
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s",
                    "query_warm_geomean_s": "s"}

# Per-pass layer counters, summed over a pass's queries except where
# noted, emitted for the settled warm passes and (``cold.`` prefix) for
# the cold pass. Which counters are metrics follows one rule: a metric
# must be able to move on some workload at this scale, and a time must
# also read nonzero on every workload, because a time that reads the
# same on every run carries no measurement. Counts and bytes may
# read 0 where a workload's character predicts it (no Python workers or
# writes on olap). So these stay in the per-query trace records and the
# report but are not metrics: times that read 0 on a workload
# (``python.eval_s`` and ``python.init_s`` on olap, ``write.commit_s``,
# ``exec.gc_s`` and ``shuffle.fetch_wait_s`` at this scale),
# ``spill.bytes`` (0 everywhere) and ``exec.task_skew`` (every stage runs
# one task at this scale, so it reads 1). Janino compiles are mostly a
# cold-pass cost and read 0 in some runs' warm passes, so ``codegen.*``
# are cold metrics only.
LAYERS = {
    "build.s": "s", "build.jobs": "count", "build.job_s": "s", "build.self_s": "s",
    "plan.s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "action.s": "s", "action.self_s": "s",
    "scan.bytes": "B", "scan.records": "count",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "write.bytes": "B", "write.records": "count", "write.files": "count",
    "cache.rdds": "count", "cache.storage_bytes": "B",
}
COLD_ONLY = {"codegen.compiles": "count", "codegen.compile_s": "s"}
MAX_OVER_QUERIES = {"cache.rdds", "cache.storage_bytes"}

OTHER_TRACE_UNITS = {
    "setup.import_s": "s", "setup.session_s": "s", "mem.peak_rss_mb": "MB",
    "trace.on_warm_s": "s", "trace.off_warm_s": "s", "trace.overhead_s": "s",
    "drift.warm_wall_ratio": "ratio", "drift.cache_rdds": "count",
    "drift.cache_bytes": "B",
}


def per_layer_units() -> dict[str, str]:
    units = dict(OTHER_TRACE_UNITS)
    for name, unit in LAYERS.items():
        units[name] = unit
        units[f"cold.{name}"] = unit
    for name, unit in COLD_ONLY.items():
        units[f"cold.{name}"] = unit
    return units


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


# -- inputs and expected outputs ---------------------------------------------
def ensure_data(work: str) -> str:
    import datagen

    path = os.path.join(work, "data", f"sf{SF}-g{DATA_VERSION}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(DATA_SEED, SF, tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def load_expected(workload: str) -> dict:
    with open(EXPECTED) as f:
        spec = json.load(f)
    if spec["data_version"] != DATA_VERSION or spec["sf"] != SF:
        _fail("expected.json is stale; regenerate it with record_expected.py")
    return {name: spec["queries"][name] for name in WORKLOADS[workload]["queries"]}


def mismatches(expected: dict, got: dict) -> dict[str, str]:
    """Query -> reason, for every query whose checked output is wrong."""
    bad = {}
    for name, exp in expected.items():
        g = got.get(name, {"error": "not run"})
        if "error" in g:
            bad[name] = g["error"]
        elif "hash" in exp:
            if (g["rows"], g["columns"], g["hash"]) != (exp["rows"], exp["columns"], exp["hash"]):
                bad[name] = (f"fingerprint {g['rows']} rows/{g['hash']} != "
                             f"expected {exp['rows']} rows/{exp['hash']}")
        elif g["schema"] != exp["schema"]:
            bad[name] = f"schema {g['schema']} != {exp['schema']}"
        elif g["rows"] != exp["rows"]:
            bad[name] = f"{g['rows']} rows, expected {exp['rows']}"
    return bad


# -- the measured process ------------------------------------------------------
def _session_pids(sid: int) -> list[int]:
    """Live processes of a session. The worker leads its own session, and
    its JVM and Python workers stay in it even where they change group."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Wait until every process the worker started has ended, terminating
    what outlives a grace period."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in _session_pids(sid) if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline:
            if not _session_pids(sid):
                return
            time.sleep(0.05)


def run_worker(args, data: str, run_dir: str) -> dict:
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip(),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--out", out]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
                                stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_session(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "worker.log")) as f:
            tail = f.read()[-3000:]
        _fail(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out) as f:
        return json.load(f)


# -- metrics -------------------------------------------------------------------
def settled(passes: list[dict]) -> list[dict]:
    """The warm passes after the warm-up ones (``workloads.warmup_passes``).
    Those still pay for hot paths the JVM compiles after the cold pass; the
    warm metrics take medians over the rest, which one slow pass does not
    move."""
    return [p for p in passes if p["kind"] == "warm" and p["settled"]]


def end_to_end(result: dict) -> dict[str, float]:
    """``warm_s`` is one warm pass as the engine runs it undisturbed: the sum
    over the queries of each query's fastest settled warm wall.
    ``query_warm_geomean_s`` is the geometric mean of those walls, which
    weighs a change to a short query as much as the same relative change
    to a long one. On a shared host other load only ever adds time, and it
    comes in episodes of seconds to minutes; a query's fastest settled
    execution is the one such an episode leaves least touched, where a
    median moves with every episode that covers half of the passes."""
    passes = result["passes"]
    best = [min(w) for w in settled_walls(passes).values()]
    return {
        "setup_s": result["setup"]["setup_s"],
        "cold_s": passes[0]["wall"],
        "warm_s": sum(best),
        "query_warm_geomean_s": math.exp(fmean(math.log(b) for b in best)),
    }


def settled_walls(passes: list[dict]) -> dict[str, list[float]]:
    """Query -> its walls in the settled warm passes where it succeeded."""
    walls: dict[str, list[float]] = {}
    for p in settled(passes):
        for q in p["queries"]:
            if q["ok"]:
                walls.setdefault(q["query"], []).append(q["wall"])
    return walls


def pass_layers(p: dict) -> dict[str, float]:
    """A traced pass's layer counters, summed (or maxed) over its queries."""
    out = {}
    ok = [q for q in p["queries"] if q["ok"]]
    for name in (*LAYERS, *COLD_ONLY):
        vals = [q.get(name, 0.0) for q in ok] or [0.0]
        out[name] = max(vals) if name in MAX_OVER_QUERIES else sum(vals)
    return out


def per_layer(result: dict) -> dict[str, float]:
    passes = result["passes"]
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    on = [p for p in settled(passes) if p["traced"]]
    off = [p for p in settled(passes) if not p["traced"]]
    on_layers = [pass_layers(p) for p in on]
    cold_layers = pass_layers(cold)
    out = {k: result["setup"][k] for k in ("setup.import_s", "setup.session_s")}
    out["mem.peak_rss_mb"] = result["peak_rss_mb"]
    for name in LAYERS:
        out[name] = median(layer[name] for layer in on_layers)
        out[f"cold.{name}"] = cold_layers[name]
    for name in COLD_ONLY:
        out[f"cold.{name}"] = cold_layers[name]
    on_wall, off_wall = median(p["wall"] for p in on), median(p["wall"] for p in off)
    out.update({
        "trace.on_warm_s": on_wall,
        "trace.off_warm_s": off_wall,
        "trace.overhead_s": on_wall - off_wall,
        "drift.warm_wall_ratio": traced[-1]["wall"] / traced[0]["wall"],
        "drift.cache_rdds": warm[-1]["cache.rdds"] - warm[0]["cache.rdds"],
        "drift.cache_bytes": warm[-1]["cache.storage_bytes"] - warm[0]["cache.storage_bytes"],
    })
    return out


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        _fail(f"engine package {PACKAGE}/ not found next to {os.path.basename(HERE)}/")

    work = os.path.join(ROOT, ".perfbench")
    data = ensure_data(work)
    expected = load_expected(args.workload)
    run_dir = os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run_worker(args, data, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    bad = mismatches(expected, result["check"])
    executions = [q for p in result["passes"] for q in p["queries"]]
    attempted = len(executions) + len(result["check"])
    failed = sum(not q["ok"] for q in executions) + len(bad)
    if args.trace:
        metrics = per_layer(result)
        units = per_layer_units()
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        trace_path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": metrics, **result}, f)
    else:
        metrics = end_to_end(result)
        units = END_TO_END_UNITS
    n_warm = sum(1 for p in result["passes"] if p["kind"] == "warm")
    settled_execs = [w for ws in settled_walls(result["passes"]).values() for w in ws]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "warm_passes": n_warm,
        "warm_query_executions": sum(len(p["queries"]) for p in result["passes"][1:]),
        # the median over every settled warm execution, and how many there were
        "query_warm_p50_s": median(settled_execs),
        "settled_executions": len(settled_execs),
        "warm_walls_s": [round(p["wall"], 3) for p in result["passes"][1:]],
        "failed_frac": failed / attempted, "mismatches": bad,
        "errors": {q["query"]: q["error"] for q in executions if not q["ok"]},
    }))
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
