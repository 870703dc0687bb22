"""Unit tests for the benchmark's measurement primitives.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import (Span, Tracer, percentile, prefix_differences,  # noqa: E402
                   quartile_spread, self_times, tail_percentile)


# ------------------------------------------------------- tail percentile

@pytest.mark.parametrize("n, want", [
    (5, 50),      # fewer than 20 samples: no tail above the median qualifies
    (19, 50),
    (20, 50),     # 10 of 20 samples above p50, 9 above p51
    (40, 75),     # 10 of 40 above p75
    (100, 90),
    (1000, 99),   # capped at p99
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_is_highest_with_enough_samples_beyond():
    for n in range(20, 400):
        p = tail_percentile(n)
        beyond = lambda q: n - -(-n * q // 100)  # noqa: E731  n - ceil(n*q/100)
        assert beyond(p) >= 10
        assert p == 99 or beyond(p + 1) < 10


def test_percentile_nearest_rank():
    xs = [float(k) for k in range(1, 101)]
    assert percentile(xs, 50) == 50.0
    assert percentile(xs, 90) == 90.0
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


# ------------------------------------------------------------ self time

def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent)


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 9.0, 0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 6.0, 0), _span(2, 4.0, 8.0, 0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_ignores_grandchildren_and_clips_to_parent():
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 12.0, 0), _span(2, 3.0, 4.0, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(2.0)      # child clipped at the parent's end
    assert st[1] == pytest.approx(9.0)


def test_tracer_links_parents_and_op_ids():
    tr = Tracer(True)
    with tr.span("run"):
        with tr.span("op", op_id="t-0"):
            with tr.span("build"):
                pass
    run, op, build = tr.spans
    assert run.parent is None and op.parent == run.span_id and build.parent == op.span_id
    assert build.op_id == "t-0" and run.op_id is None
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op") as s:
        assert s is None
    assert tr.spans == []


# --------------------------------------------------- prefix attribution

def test_prefix_differences_attribute_each_layer():
    # scan; +calc; +resample; full op
    assert prefix_differences([1.0, 1.25, 2.0, 3.5]) == pytest.approx([1.0, 0.25, 0.75, 1.5])


def test_prefix_differences_sum_to_full_op():
    prefixes = [0.9, 1.0, 1.6, 2.4]
    assert sum(prefix_differences(prefixes)) == pytest.approx(prefixes[-1])


def test_prefix_differences_keep_negative_noise():
    # a layer cheaper than timing noise reads negative; it is reported, not hidden
    assert prefix_differences([1.0, 0.98])[1] == pytest.approx(-0.02)


# ------------------------------------------------------------- spread

def test_quartile_spread_matches_statistics_quantiles():
    med, spread = quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert med == 3.0
    assert spread == pytest.approx((4.5 - 1.5) / 3.0)
