"""Status-store value parsing and span arithmetic."""

import pytest

from run import tail
from tracing import _union, parse_metric, self_time


@pytest.mark.parametrize("text,want", [
    ("5", 5.0),
    ("1,234", 1234.0),
    ("0.0 B", 0.0),
    ("320.0 B", 320.0),
    ("63.5 KiB", 63.5 * 1024),
    ("8.2 MiB", 8.2 * 1024 ** 2),
    ("1.5 GiB", 1.5 * 1024 ** 3),
    ("702 ms", 0.702),
    ("1.1 s", 1.1),
    ("2.5 m", 150.0),
    ("1.0 h", 3600.0),
    ("total (min, med, max (stageId: taskId))\n"
     "8.2 MiB (1.0 MiB, 2.0 MiB, 3.0 MiB (stage 1.0: task 5))", 8.2 * 1024 ** 2),
    ("total (min, med, max (stageId: taskId))\n"
     "2.3 s (10 ms, 1.0 s, 1.2 s (stage 3.0: task 17))", 2.3),
    ("total (min, med, max (stageId: taskId))\n"
     "1,024 (1, 2, 900 (stage 0.0: task 1))", 1024.0),
])
def test_parse_metric(text, want):
    assert parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", ["", "n/a", "3 parsecs",
                                  "total (min, med, max (stageId: taskId))"])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_union_merges_overlaps():
    assert _union([]) == 0.0
    assert _union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert _union([(0, 10), (1, 2), (3, 4)]) == pytest.approx(10.0)


def test_self_time_subtracts_covered_children():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 9.0, "end": 12.0}]
    assert self_time(span, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 10) is None
    t = tail([float(i) for i in range(100)])
    assert t["value"] == 89.0 and t["n"] == 100 and t["pct"] == 90.0
    assert sum(1 for i in range(100) if i > t["value"]) == 10
