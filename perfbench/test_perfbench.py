"""Unit tests of the benchmark's own parsing and statistics (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import pandas as pd
import pytest

from host import net_of_steal, steal_of
from run import MIN_PASSES, Bench, measured
from spans import Span, self_seconds
from sparkstore import parse_metric
from summary import median, quartile_spread, tail
from workloads import mismatch


@pytest.mark.parametrize("text, want", [
    ("60 ms", 0.060),
    ("3.5 s", 3.5),
    ("1.5 m", 90.0),
    ("2.00 h", 7200.0),
    ("0.0 B", 0.0),
    ("126.5 KiB", 126.5 * 1024),
    ("64.2 MiB", 64.2 * 2**20),
    ("1.0 GiB", 2.0**30),
    ("7,653", 7653.0),
    ("1,234,567", 1234567.0),
    ("1.3", 1.3),
    ("total (min, med, max (stageId: taskId))\n"
     "267 ms (42 ms, 74 ms, 98 ms (stage 31.0: task 56))", 0.267),
    ("total (min, med, max (stageId: taskId))\n"
     "246.8 KiB (60.8 KiB, 62.0 KiB, 62.5 KiB (stage 31.0: task 54))", 246.8 * 1024),
    ("total (min, med, max (stageId: taskId))\n"
     "1.5 m (21.9 s, 22.0 s, 22.1 s (stage 540.0: task 757))", 90.0),
])
def test_parse_metric_totals(text, want):
    assert parse_metric(text) == pytest.approx(want)


@pytest.mark.parametrize("text", [
    "",
    "total (min, med, max (stageId: taskId))",
    # average-type metrics print no total
    "(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 756.0: task 1007))",
    "12 parsecs",
])
def test_parse_metric_rejects(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    assert tail(list(range(11))) == (100.0 * 1 / 11, 0.0)


def test_tail_leaves_exactly_ten_beyond():
    values = [float(v) for v in range(1, 41)]  # 1..40
    pct, value = tail(values)
    assert pct == 75.0
    assert value == 30.0
    assert sum(v > value for v in values) == 10


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert tail(values) == tail(sorted(values)) == (100.0 * 2 / 12, 1.0)


def test_median_and_spread():
    assert median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        median([])
    # statistics.quantiles (exclusive method) of 1..8: q1=2.25, q3=6.75
    assert quartile_spread([float(v) for v in range(1, 9)]) == pytest.approx(4.5 / 4.5)


def test_self_seconds_subtracts_children():
    spans = [
        Span(0, "op", 1, None, 0.0, 10.0),
        Span(1, "build", 1, 0, 0.0, 4.0),
        Span(2, "plan", 1, 0, 4.0, 5.0),
        Span(3, "execute", 1, 0, 5.0, 9.5),
    ]
    got = self_seconds(spans)
    assert got == pytest.approx({"op": 0.5, "build": 4.0, "plan": 1.0, "execute": 4.5})


def test_self_seconds_overlapping_children_count_once():
    spans = [
        Span(0, "op", 1, None, 0.0, 10.0),
        Span(1, "build", 1, 0, 1.0, 6.0),
        Span(2, "execute", 1, 0, 4.0, 8.0),
    ]
    assert self_seconds(spans)["op"] == pytest.approx(3.0)


def test_mismatch_rule():
    got = pd.DataFrame({"b": [2, 1], "a": [0.5, 0.25]})
    same = pd.DataFrame({"a": [0.25, 0.5], "b": [1, 2]})
    assert mismatch(got, same) is None
    assert "row count" in mismatch(got, same.head(1))
    assert "columns" in mismatch(got, same.rename(columns={"a": "c"}))
    off = pd.DataFrame({"a": [0.25, 0.5 + 1e-12], "b": [1, 2]})
    assert mismatch(got, off) == "column a values differ"


def test_steal_of_and_net_time():
    # (busy, steal, total) jiffies: 30 busy + 10 stolen out of 100
    frac, share = steal_of((100.0, 5.0, 1000.0), (130.0, 15.0, 1100.0))
    assert frac == pytest.approx(0.10)
    assert share == pytest.approx(0.25)
    assert net_of_steal(8.0, share) == pytest.approx(6.0)
    assert steal_of((1.0, 0.0, 2.0), (1.0, 0.0, 2.0)) == (0.0, 0.0)


def _pass(traced: bool, sql_executions: int) -> dict:
    return {"traced": traced,
            "ops": [{"op": "q05_join_groupby", "sql_executions": sql_executions}]}


def test_measured_takes_a_fixed_number_of_last_untraced_passes():
    n = 2 * MIN_PASSES + 3
    got = measured({"passes": [_pass(i % 2 == 1, i) for i in range(n)]})
    want = [i for i in range(n) if i % 2 == 0][-MIN_PASSES:]
    assert [p["ops"][0]["sql_executions"] for p in got] == want


def test_trace_count_mismatch_fails_the_run():
    bench = Bench("relational", seed=1, seconds=1.0, trace=True)
    bench.check_trace_counts([_pass(False, 3), _pass(True, 3)])
    assert bench.failures == []
    bench.check_trace_counts([_pass(False, 3), _pass(True, 4)])
    assert bench.failures == ["q05_join_groupby: sql_executions traced [4] != untraced [3]"]
