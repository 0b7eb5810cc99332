"""Pure helpers of the benchmark: percentiles, unit normalisation, span
self time and the amplification ratios. No Spark import, so the tests
under ``perfbench/tests`` run without a JVM."""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Percentile:
    """A nearest-rank percentile with the samples it rests on."""

    value: float
    n: int  # samples in the set
    beyond: int  # samples strictly above the percentile's rank


def percentile(values: list[float], p: float) -> Percentile:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. The value is always a real sample, never
    an interpolation, and ``beyond`` says how many samples lie above its
    rank, which is what a reader needs to judge the tail."""
    if not values:
        raise ValueError("percentile of an empty sample set")
    if not 0 < p <= 100:
        raise ValueError(f"percentile must lie in (0, 100], got {p}")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return Percentile(ordered[rank - 1], len(ordered), len(ordered) - rank)


# Units of the task metrics in Spark's event log. Task times are in
# milliseconds, except the CPU and shuffle-write clocks, which Spark
# records in nanoseconds.
TASK_METRIC_UNITS = {
    "Executor Run Time": "ms",
    "Executor CPU Time": "ns",
    "Executor Deserialize Time": "ms",
    "JVM GC Time": "ms",
    "Result Serialization Time": "ms",
    "Shuffle Write Time": "ns",
    "Fetch Wait Time": "ms",
}

# SQL metric types as Spark's plan info names them, by unit.
SQL_METRIC_UNITS = {"timing": "ms", "nsTiming": "ns", "size": "bytes"}

_SECONDS_PER = {"s": 1.0, "ms": 1e-3, "us": 1e-6, "ns": 1e-9}


def to_seconds(value: float, unit: str) -> float:
    """Convert a time in ``unit`` (s, ms, us or ns) to seconds."""
    try:
        return value * _SECONDS_PER[unit]
    except KeyError:
        raise ValueError(f"not a time unit: {unit!r}") from None


def task_metric_seconds(name: str, value: float) -> float:
    """A task time from the event log, in seconds, by its metric name."""
    try:
        unit = TASK_METRIC_UNITS[name]
    except KeyError:
        raise ValueError(f"not a task time metric: {name!r}") from None
    return to_seconds(value, unit)


def sql_metric_value(metric_type: str, value: float) -> float:
    """A SQL metric in base units: seconds for the timing types, bytes
    for sizes, the raw value for sums and counts."""
    unit = SQL_METRIC_UNITS.get(metric_type)
    if unit in ("ms", "ns"):
        return to_seconds(value, unit)
    return float(value)


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int  # the op this span belongs to

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap each other, and are
    clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def write_amp(data_bytes_written: int, user_bytes_appended: int) -> float:
    """Bytes of data files a table cycle wrote per byte of user rows it
    appended (both as parquet); 1.0 means every byte was written once."""
    if user_bytes_appended <= 0:
        raise ValueError("write_amp needs a positive number of appended bytes")
    return data_bytes_written / user_bytes_appended


def space_amp(bytes_under_roots: int, live_bytes: int) -> float:
    """Bytes kept on disk per byte the current snapshot still reads."""
    if live_bytes <= 0:
        raise ValueError("space_amp needs a positive number of live bytes")
    return bytes_under_roots / live_bytes
