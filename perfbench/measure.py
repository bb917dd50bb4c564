"""Pure helpers of the benchmark: run-to-run spread, interval coverage,
job-group delta accounting, Spark SQL-metric parsing and the peak-RSS
reader. Nothing here imports Spark, so the unit tests run without a JVM."""

from __future__ import annotations

import re
import statistics


def spread(values) -> dict[str, float]:
    """Median, quartiles and their distance as a share of the median, as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"q1": q1, "median": q2, "q3": q3, "spread": (q3 - q1) / q2 if q2 else float("inf")}


def coverage(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Ledger:
    """Hands out each id once per key.

    Spark's job groups keep every job id they ever ran, so asking for a
    group's jobs after its second pass returns both passes' jobs; the
    ledger returns only the ids not seen before. Keyed by ``None`` it
    deduplicates stage ids, which recur when a later job reuses an
    earlier job's shuffle."""

    def __init__(self) -> None:
        self._seen: dict[object, set] = {}

    def new(self, key, ids) -> list:
        seen = self._seen.setdefault(key, set())
        fresh = sorted(set(ids) - seen)
        seen.update(fresh)
        return fresh


_UNIT_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "PiB": 1024.0 ** 5,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Total of one formatted Spark SQL metric value, in seconds for
    timings, bytes for sizes and a plain number for counts.

    Spark renders per-task metrics as ``"total (min, med, max (...))\\n
    80 ms (37 ms, ...)"`` and driver-side ones as ``"2.2 s"``,
    ``"1099.0 B"`` or ``"100,000"``; the total is the first value after
    any header line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNIT_SCALE:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return number * _UNIT_SCALE.get(unit, 1.0)


def vm_hwm_mb(pid: int, proc_root: str = "/proc") -> float:
    """Peak resident set size (VmHWM) of a live process, in MiB."""
    with open(f"{proc_root}/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                value, unit = line.split()[1:3]
                if unit != "kB":
                    raise ValueError(f"unexpected VmHWM unit {unit!r}")
                return int(value) / 1024.0
    raise ValueError(f"no VmHWM line for pid {pid}")
