import statistics

import pytest

from stats import Span, bracketed_ratio, inclusive_time_by_name, median, quartile_spread, self_time_by_name, self_times


def test_median_odd_and_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartile_spread_matches_statistics_quantiles():
    values = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / q2)
    # exclusive method on 1..10: Q1 = 2.75, median 5.5, Q3 = 8.25
    assert quartile_spread(values) == pytest.approx(5.5 / 5.5)
    assert quartile_spread([2.0] * 10) == 0.0


def test_bracketed_ratio_cancels_linear_drift():
    # plain cycles grow by 1 s each; the traced ones cost 10 % on top
    cycles = [(False, 10.0), (True, 11.0 * 1.1), (False, 12.0), (True, 13.0 * 1.1), (False, 14.0)]
    assert bracketed_ratio(cycles) == pytest.approx(1.1)
    # a traced cycle at either end has only one neighbour and is left out
    assert bracketed_ratio([(True, 50.0)] + cycles[:3]) == pytest.approx(1.1)
    with pytest.raises(ValueError):
        bracketed_ratio([(False, 1.0), (True, 2.0)])


def _spans():
    # cycle [0, 10] > op [0, 6] > write [1, 4] > commit [2, 3]
    #                 op [6, 10] > write [7, 8]
    return [
        Span("cycle", 0.0, 10.0, None),
        Span("op", 0.0, 6.0, 0),
        Span("write", 1.0, 4.0, 1),
        Span("commit", 2.0, 3.0, 2),
        Span("op", 6.0, 10.0, 0),
        Span("write", 7.0, 8.0, 4),
    ]


def test_self_time_subtracts_direct_children_only():
    assert self_times(_spans()) == [0.0, 3.0, 2.0, 1.0, 3.0, 1.0]
    by_name = self_time_by_name(_spans())
    assert by_name == {"cycle": 0.0, "op": 6.0, "write": 3.0, "commit": 1.0}
    # self times partition the root's wall time
    assert sum(by_name.values()) == 10.0


def test_inclusive_time_counts_recursion_once():
    spans = [
        Span("plan", 0.0, 5.0, None),
        Span("plan", 1.0, 3.0, 0),  # re-entrant call inside the outer one
        Span("read", 1.5, 2.5, 1),
    ]
    assert inclusive_time_by_name(spans) == {"plan": 5.0, "read": 1.0}
