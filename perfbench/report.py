"""Per-layer report of the traced runs in ``.perfbench/traces``.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 18 --trace 1
    python3 perfbench/report.py [--out report.md]

For each workload it prints the warm per-query layer table (median over
the traced, settled warm passes), the cold−warm gap of the five queries with the
largest gaps split by layer, the tracing overhead and the checks of the
workload's stated character.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import settled  # noqa: E402

# layers that partition a query's wall: build = build.job_s + build.self_s,
# then action = exec.s + action.self_s
TIME_LAYERS = ("build.job_s", "build.self_s", "exec.s", "action.self_s")
COUNTS = ("plan.s", "build.jobs", "exec.jobs", "exec.stages", "codegen.compiles",
          "codegen.compile_s", "python.init_s", "python.eval_s",
          "shuffle.write_bytes", "write.bytes", "exec.task_skew")
# share of the traced query wall the cross-clock checks may miss by
CLOCK_TOLERANCE = 0.02


def per_query(trace: dict, kind: str) -> dict[str, dict]:
    """Query -> layer values; warm values are medians over the traced
    settled warm passes."""
    passes = trace["passes"][:1] if kind == "cold" else settled(trace["passes"])
    passes = [p for p in passes if p["traced"]]
    out: dict[str, dict] = {}
    for name in {q["query"] for p in passes for q in p["queries"]}:
        recs = [q for p in passes for q in p["queries"] if q["query"] == name and q["ok"]]
        out[name] = {k: median(r[k] for r in recs) for k in recs[0]
                     if isinstance(recs[0][k], (int, float)) and not isinstance(recs[0][k], bool)}
    return out


def _fmt(v: float) -> str:
    if abs(v) >= 1e6:
        return f"{v / 1e6:.1f}M"
    return f"{v:.3f}" if abs(v) < 100 and v != int(v) else f"{v:.0f}"


def layer_checks(trace: dict) -> list[tuple[str, bool]]:
    """The four time layers partition each query's wall by construction
    (the self times are span minus job coverage), so what is checked is
    what other clocks measure: the job time Spark's clock puts outside
    the Python span that launched the job, and the planning time the JVM
    tracker reports beyond the driver time no job covers."""
    queries = [q for p in trace["passes"] if p["traced"] for q in p["queries"] if q["ok"]]
    wall = sum(q["wall"] for q in queries)
    outside = sum(q["layers.clock_error_s"] for q in queries) / wall
    over = sum(max(0.0, q["plan.s"] - q["build.self_s"] - q["action.self_s"])
               for q in queries) / wall
    return [(f"job time outside its launching span: {outside:.4f} of the wall "
             f"<= {CLOCK_TOLERANCE}", outside <= CLOCK_TOLERANCE),
            (f"planning beyond the driver time no job covers: {over:.4f} of the wall "
             f"<= {CLOCK_TOLERANCE}", over <= CLOCK_TOLERANCE)]


def character_checks(workload: str, warm: dict) -> list[tuple[str, bool]]:
    def total(name):
        return sum(q.get(name, 0.0) for q in warm.values())

    checks = []
    if workload == "olap":
        most = max(q["build.jobs"] for q in warm.values())
        checks += [("python.eval_s == 0", total("python.eval_s") == 0),
                   ("write.bytes == 0", total("write.bytes") == 0),
                   (f"at most a few build jobs per query (max {most:.0f})", most <= 5)]
    elif workload == "pipeline":
        checks += [("shuffle bytes > 0", total("shuffle.write_bytes") > 0
                    and total("shuffle.read_bytes") > 0),
                   ("build.jobs > 0", total("build.jobs") > 0),
                   ("python.* > 0", total("python.eval_s") > 0 and total("python.bytes_sent") > 0),
                   ("write.* > 0", total("write.bytes") > 0 and total("write.files") > 0)]
    return checks


def report(trace: dict) -> str:
    w, m = trace["workload"], trace["metrics"]
    warm, cold = per_query(trace, "warm"), per_query(trace, "cold")
    lines = [f"## {w} (seed {trace['seed']})", "",
             f"Tracing overhead: {m['trace.on_warm_s']:.3f} s warm pass with collection on vs "
             f"{m['trace.off_warm_s']:.3f} s off ({m['trace.overhead_s']:+.3f} s). "
             f"Set-up {trace['setup']['setup_s']:.2f} s (import "
             f"{m['setup.import_s']:.2f} s, session {m['setup.session_s']:.2f} s).", "",
             "Warm pass, per query (median over the traced settled warm passes). The "
             "four time columns after `wall` partition it; `plan.s` (JVM planning "
             "tracker) lies inside the two self columns; `python.*` and "
             "`exec.task_*` are task time summed over tasks and can exceed it.", "",
             "| query | wall | " + " | ".join(TIME_LAYERS + COUNTS) + " |",
             "|---" * (2 + len(TIME_LAYERS) + len(COUNTS)) + "|"]
    for name in sorted(warm):
        q = warm[name]
        lines.append(f"| {name} | {_fmt(q['wall'])} | "
                     + " | ".join(_fmt(q.get(k, 0.0)) for k in TIME_LAYERS + COUNTS) + " |")
    gaps = sorted(((cold[n]["wall"] - warm[n]["wall"], n) for n in warm if n in cold), reverse=True)
    lines += ["", "Cold − warm gap by layer, five largest gaps (seconds):", "",
              "| query | cold | warm | gap | " + " | ".join(TIME_LAYERS)
              + " | plan.s | codegen.compile_s | python.init_s |",
              "|---" * (7 + len(TIME_LAYERS)) + "|"]
    for gap, n in gaps[:5]:
        c, h = cold[n], warm[n]
        lines.append(f"| {n} | {c['wall']:.3f} | {h['wall']:.3f} | {gap:.3f} | "
                     + " | ".join(f"{c.get(k, 0) - h.get(k, 0):+.3f}"
                                  for k in TIME_LAYERS + ("plan.s", "codegen.compile_s",
                                                          "python.init_s"))
                     + " |")
    passes = [p for p in trace["passes"] if p["kind"] == "warm"]
    lines += ["", "Warm passes (collection on/off, wall, cached RDDs, storage bytes): "
              + ", ".join(f"{'on' if p['traced'] else 'off'} {p['wall']:.2f} s/"
                          f"{p['cache.rdds']}/{p['cache.storage_bytes']:.0f}" for p in passes),
              "", "Layer and character checks:", ""]
    checks = layer_checks(trace) + character_checks(w, warm)
    lines += [f"- [{'x' if ok else ' '}] {text}" for text, ok in checks]
    return "\n".join(lines) + "\n"


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out")
    args = p.parse_args()
    traces = os.path.join(os.path.dirname(HERE), ".perfbench", "traces")
    paths = sorted(glob.glob(os.path.join(traces, "*.json")))
    if not paths:
        raise SystemExit(f"no traced runs in {traces}")
    text = "\n".join(report(json.load(open(path))) for path in paths)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    print(text)


if __name__ == "__main__":
    main()
