"""Unit tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import statistics
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
from fingerprint import canon, fingerprint  # noqa: E402
from measure import Ledger, coverage, parse_sql_metric, spread, vm_hwm_mb  # noqa: E402
from spread import seed_range  # noqa: E402
from spark_layers import _wanted_metrics  # noqa: E402
from workloads import WORKLOADS, pass_order, warm_passes, warmup_passes  # noqa: E402


# BENCHMARK.json's rules for metric and workload names and for units
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_valid():
    names = list(run.END_TO_END_UNITS) + list(run.per_layer_units()) + list(WORKLOADS)
    assert all(NAME_RE.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    units = set(run.END_TO_END_UNITS.values()) | set(run.per_layer_units().values())
    assert all(UNIT_RE.fullmatch(u) for u in units)


def test_benchmark_json_matches_emitted_metrics():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_spread_matches_statistics_quartiles():
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    s = spread(vals)
    assert (s["q1"], s["median"], s["q3"]) == (q1, q2, q3)
    assert s["median"] == statistics.median(vals)
    assert s["spread"] == pytest.approx((q3 - q1) / q2)
    assert spread([2.0, 2.0, 2.0])["spread"] == 0
    assert seed_range("101-103") == [101, 102, 103] and seed_range("7") == [7]


def test_coverage_of_job_intervals():
    assert coverage([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert coverage([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert coverage([], 0, 1) == 0
    assert coverage([(3, 2)], 0, 10) == 0
    assert coverage([(1, 4), (2, 5), (8, 12)], 0, 10) == 6


def test_ledger_returns_only_new_job_ids_per_group():
    # Spark's job groups accumulate ids across passes: the second pass's
    # lookup returns the first pass's jobs too.
    ledger = Ledger()
    assert ledger.new("pb/q/build", [0, 1]) == [0, 1]
    assert ledger.new("pb/q/action", [2]) == [2]
    assert ledger.new("pb/q/build", [0, 1, 5, 6]) == [5, 6]
    assert ledger.new("pb/q/build", [0, 1, 5, 6]) == []
    assert ledger.new("pb/r/build", [1, 7]) == [1, 7]  # keys are independent


def test_parse_sql_metric_units():
    assert parse_sql_metric("2.2 s") == pytest.approx(2.2)
    assert parse_sql_metric("889 ms") == pytest.approx(0.889)
    assert parse_sql_metric("1.5 m") == pytest.approx(90.0)
    assert parse_sql_metric("1099.0 B") == 1099.0
    assert parse_sql_metric("64.2 MiB") == pytest.approx(64.2 * 1024 ** 2)
    assert parse_sql_metric("100,000") == 100000
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n80 ms (37 ms, 43 ms, 43 ms (stage 3.0: task 3))"
    ) == pytest.approx(0.08)
    with pytest.raises(ValueError):
        parse_sql_metric("n/a")


def test_wanted_sql_metrics_are_picked_from_plan_metric_list():
    text = ("List(SQLPlanMetric(number of output rows,12,sum), "
            "SQLPlanMetric(time to run Python workers,13,timing), "
            "SQLPlanMetric(data sent to Python workers,14,size))")
    assert _wanted_metrics(text) == [(13, "time to run Python workers"),
                                     (14, "data sent to Python workers")]


def test_vm_hwm_reader(tmp_path):
    (tmp_path / "42").mkdir()
    (tmp_path / "42" / "status").write_text(
        "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t   2048 kB\nVmRSS:\t 1024 kB\n")
    assert vm_hwm_mb(42, proc_root=str(tmp_path)) == 2.0
    assert vm_hwm_mb(os.getpid()) > 0
    (tmp_path / "43").mkdir()
    (tmp_path / "43" / "status").write_text("Name:\tzombie\n")
    with pytest.raises(ValueError):
        vm_hwm_mb(43, proc_root=str(tmp_path))


def test_fingerprint_ignores_row_and_column_order_but_not_duplicates():
    a = fingerprint(["b", "a"], [(1, "x"), (2, "y")])
    b = fingerprint(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b and a["rows"] == 2 and a["columns"] == ["a", "b"]
    assert fingerprint(["a"], [(1,), (1,)]) != fingerprint(["a"], [(1,)])
    assert fingerprint(["a"], [(1,), (1,)])["hash"] != fingerprint(["a"], [])["hash"]
    assert fingerprint(["a"], [(1,)]) != fingerprint(["a"], [(2,)])


def test_canon_aligns_engine_types():
    assert canon(Decimal("12.50")) == canon(12.5)
    assert canon(5.0) == canon(5) == 5
    assert canon(-0.0) == 0
    assert canon(float("nan")) == "nan"
    utc = dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc)
    assert canon(utc) == canon(dt.datetime(2024, 1, 1, 12))
    assert canon([1.0, Decimal("2")]) == (1, 2)
    assert canon(0.1 + 0.2) == canon(0.3)  # 12 significant digits


def test_pass_order_is_seeded_permutation():
    for w, spec in WORKLOADS.items():
        order = pass_order(w, 7, 0)
        assert sorted(order) == sorted(spec["queries"])
        assert order == pass_order(w, 7, 0)
    orders = {tuple(pass_order("olap", s, 1)) for s in range(20)}
    assert len(orders) > 1


def test_warm_passes_at_run_seconds():
    seconds = _benchmark_json()["run_seconds"]
    n = {w: warm_passes(w, seconds, traced=False) for w in WORKLOADS}
    assert n == {"olap": 7, "pipeline": 4}
    assert {w: n[w] - warmup_passes(w, n[w]) for w in WORKLOADS} == {"olap": 5, "pipeline": 3}
    assert warm_passes("olap", seconds, traced=True) == 8  # even: collection on and off
    assert warm_passes("pipeline", seconds, traced=True) == 4
    assert warm_passes("olap", 1, traced=False) == 2 and warm_passes("olap", 1, traced=True) == 4


def test_mismatches_reports_wrong_outputs():
    exp = {"q": {"rows": 2, "columns": ["a"], "hash": "00ff"},
           "fit": {"columns": ["x"], "schema": "struct<x:int>", "rows": 3}}
    good = {"q": {"rows": 2, "columns": ["a"], "hash": "00ff", "schema": "s"},
            "fit": {"rows": 3, "columns": ["x"], "hash": "1", "schema": "struct<x:int>"}}
    assert run.mismatches(exp, good) == {}
    bad = {"q": {"rows": 2, "columns": ["a"], "hash": "0f0f", "schema": "s"},
           "fit": {"rows": 4, "columns": ["x"], "hash": "1", "schema": "struct<x:int>"}}
    assert set(run.mismatches(exp, bad)) == {"q", "fit"}
    wrong_schema = {**good, "fit": {**good["fit"], "schema": "struct<x:bigint>"}}
    assert set(run.mismatches(exp, wrong_schema)) == {"fit"}
    assert set(run.mismatches(exp, {"q": {"error": "boom"}})) == {"q", "fit"}


def _fake_result(warm_walls, traced_pattern=None, warmup=1) -> dict:
    """A worker result of one cold pass and ``warm_walls``; a float wall is
    one query ``q``, a tuple is one wall per query ``q0``, ``q1``, ..."""
    traced_pattern = traced_pattern or [False] * len(warm_walls)
    layer = {name: 1.0 for name in (*run.LAYERS, *run.COLD_ONLY)}

    def queries(walls, traced):
        named = ({"q": walls} if isinstance(walls, float)
                 else {f"q{i}": w for i, w in enumerate(walls)})
        return [{"query": n, "ok": True, "wall": w, **(layer if traced else {})}
                for n, w in named.items()]

    passes = [{"kind": "cold", "traced": any(traced_pattern), "wall": 9.0,
               "queries": queries(9.0, any(traced_pattern)),
               "cache.rdds": 0, "cache.storage_bytes": 0.0}]
    for i, (walls, traced) in enumerate(zip(warm_walls, traced_pattern)):
        passes.append({"kind": "warm", "traced": traced, "settled": i >= warmup,
                       "wall": walls if isinstance(walls, float) else sum(walls),
                       "queries": queries(walls, traced),
                       "cache.rdds": i, "cache.storage_bytes": 10.0 * i})
    return {"setup": {"setup_s": 8.0, "setup.import_s": 1.0, "setup.session_s": 7.0},
            "passes": passes, "peak_rss_mb": 1000.0}


def test_end_to_end_skips_the_warmup_passes():
    result = _fake_result([5.0, 4.0, 3.0, 2.8, 2.9, 3.1], warmup=2)
    assert [p["wall"] for p in run.settled(result["passes"])] == [3.0, 2.8, 2.9, 3.1]
    result = _fake_result([5.0, 3.0, 2.9, 3.1])
    assert [p["wall"] for p in run.settled(result["passes"])] == [3.0, 2.9, 3.1]
    metrics = run.end_to_end(result)
    assert set(metrics) == set(run.END_TO_END_UNITS)
    assert metrics["cold_s"] == 9.0 and metrics["setup_s"] == 8.0
    assert metrics["warm_s"] == 2.9
    assert metrics["query_warm_geomean_s"] == pytest.approx(2.9)


def test_warm_s_sums_per_query_best_walls():
    # a slow query in two different passes makes both passes slow, but
    # each query's fastest settled wall is its undisturbed one
    result = _fake_result([(0.5, 0.5), (1.0, 5.0), (5.0, 2.0), (1.1, 2.1), (1.2, 3.0)])
    metrics = run.end_to_end(result)
    assert metrics["warm_s"] == pytest.approx(1.0 + 2.0)
    assert metrics["query_warm_geomean_s"] == pytest.approx((1.0 * 2.0) ** 0.5)


def test_per_layer_emits_every_declared_metric():
    result = _fake_result([5.0, 3.0, 3.5, 3.2], [True, False, True, False])
    metrics = run.per_layer(result)
    assert set(metrics) == set(run.per_layer_units())
    assert metrics["trace.overhead_s"] == pytest.approx(3.5 - 3.1)
    assert metrics["drift.warm_wall_ratio"] == pytest.approx(3.5 / 5.0)
    assert metrics["drift.cache_rdds"] == 3
    assert metrics["build.s"] == 1.0 and metrics["cold.build.s"] == 1.0
    assert metrics["cold.codegen.compiles"] == 1.0 and "codegen.compiles" not in metrics


def test_datagen_is_seeded_and_matches_the_engine_schemas():
    a, b, c = datagen.tables(3, 0.001), datagen.tables(3, 0.001), datagen.tables(4, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500
