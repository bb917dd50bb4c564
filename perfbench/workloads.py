"""The benchmark's workloads: which registered queries each one runs and
why it was chosen. Query names are keys of the engine's query registry."""

from __future__ import annotations

import random

# ``warm_pass_s`` is the share of ``--seconds`` one warm pass of the
# workload is budgeted. It turns ``--seconds`` into a fixed number of warm
# passes (see ``warm_passes``), so a faster engine runs the same passes,
# not more. ``warmup_share`` is the share of those passes that only warm
# up: pass walls keep falling while the JVM compiles hot paths, for a few
# olap passes and about one pipeline pass after the output check. The warm
# metrics take the rest, the settled passes. At 18 s olap makes 7 warm
# passes and pipeline 4, of which 5 and 3 are settled.
WORKLOADS: dict[str, dict] = {
    "olap": {
        "why": "relational scan, Catalyst, codegen and shuffle path with "
               "no Python workers and no writes: the bypass case for build, "
               "Python-worker and write changes",
        "queries": [
            "pricing_summary",
            "join_inner_revenue_by_nation",
            "agg_count_distinct",
            "window_lag_lead_events",
            "tpch_q3_shipping_priority",
        ],
        "warm_pass_s": 2.5,
        "warmup_share": 0.3,
    },
    "pipeline": {
        "why": "LLM-data dedup with many eager build jobs and candidate "
               "shuffles, plus the reference lifecycle: corpus write, "
               "Python-worker audio features and an MLlib fit",
        "queries": [
            "dedup_cc_bounded_histogram",
            "mm_wav_resample_sink",
            "text_mllib_pipeline",
        ],
        "warm_pass_s": 4.5,
        "warmup_share": 0.25,
    },
}


def warm_passes(workload: str, seconds: float, traced: bool) -> int:
    """Number of warm passes a run makes: ``seconds`` worth at the
    workload's ``warm_pass_s`` each, at least two. Traced runs alternate
    collection on and off, so they make an even number, at least four."""
    n = max(2, round(seconds / WORKLOADS[workload]["warm_pass_s"]))
    return max(4, n + n % 2) if traced else n


def warmup_passes(workload: str, n_warm: int) -> int:
    """How many of a run's ``n_warm`` warm passes only warm up."""
    return int(n_warm * WORKLOADS[workload]["warmup_share"])


def pass_order(workload: str, seed: int, pass_index: int) -> list[str]:
    """The workload's queries in the order pass ``pass_index`` runs them;
    the seed fixes every pass's order."""
    names = list(WORKLOADS[workload]["queries"])
    random.Random(f"{workload}:{seed}:{pass_index}").shuffle(names)
    return names
