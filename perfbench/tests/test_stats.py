"""The benchmark's pure helpers: percentiles, units, self time, ratios."""

import pytest

from stats import (
    Span,
    percentile,
    self_times,
    space_amp,
    sql_metric_value,
    task_metric_seconds,
    to_seconds,
    write_amp,
)


def test_percentile_is_nearest_rank_with_its_sample_count():
    values = [float(v) for v in range(100, 0, -1)]  # 100 .. 1, unsorted
    p90 = percentile(values, 90)
    assert p90.value == 90.0
    assert p90.n == 100
    assert p90.beyond == 10
    p50 = percentile(values, 50)
    assert (p50.value, p50.beyond) == (50.0, 50)


def test_percentile_on_few_samples_reports_a_thin_tail():
    p90 = percentile([0.3, 0.1, 0.2, 0.5, 0.4], 90)
    assert p90.value == 0.5  # rank ceil(4.5) = 5: the maximum
    assert (p90.n, p90.beyond) == (5, 0)
    assert percentile([7.0], 50).value == 7.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_event_log_units_are_normalised_to_seconds():
    # shuffle write time and CPU time are nanoseconds, task times are ms
    assert task_metric_seconds("Shuffle Write Time", 2_000_000_000) == pytest.approx(2.0)
    assert task_metric_seconds("Executor CPU Time", 500_000_000) == pytest.approx(0.5)
    assert task_metric_seconds("Executor Run Time", 1500) == pytest.approx(1.5)
    assert task_metric_seconds("JVM GC Time", 20) == pytest.approx(0.02)
    assert task_metric_seconds("Fetch Wait Time", 3) == pytest.approx(0.003)
    with pytest.raises(ValueError):
        task_metric_seconds("Shuffle Bytes Written", 10)


def test_sql_metric_types_are_normalised():
    assert sql_metric_value("timing", 250) == pytest.approx(0.25)
    assert sql_metric_value("nsTiming", 1e9) == pytest.approx(1.0)
    assert sql_metric_value("size", 4096) == 4096
    assert sql_metric_value("sum", 7) == 7
    assert to_seconds(5, "us") == pytest.approx(5e-6)
    with pytest.raises(ValueError):
        to_seconds(1, "bytes")


def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 3.0, 0, 0),
        Span(2, "b", 2.0, 5.0, 0, 0),  # overlaps a: union is [1, 5]
        Span(3, "c", 8.0, 12.0, 0, 0),  # runs past the parent: [8, 10] counts
        Span(4, "d", 2.5, 3.5, 2, 0),  # grandchild: charged to b, not op
    ]
    self_s = self_times(spans)
    assert self_s[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_s[1] == pytest.approx(2.0)
    assert self_s[2] == pytest.approx(3.0 - 1.0)
    assert self_s[3] == pytest.approx(4.0)
    assert self_s[4] == pytest.approx(1.0)


def test_write_and_space_amplification():
    assert write_amp(3000, 1000) == pytest.approx(3.0)
    assert space_amp(2500, 1000) == pytest.approx(2.5)
    assert write_amp(1000, 1000) == 1.0
    with pytest.raises(ValueError):
        write_amp(10, 0)
    with pytest.raises(ValueError):
        space_amp(10, 0)
