import statistics

import pytest

from perfbench.stats import clip, self_time, summarize, union_length


def test_summarize_matches_statistics_quantiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert summarize(values) == {"median": statistics.median(values), "q1": q1, "q3": q3, "n": 8}


def test_summarize_one_sample_collapses_quartiles():
    assert summarize([2.5]) == {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1}


def test_summarize_rejects_no_samples():
    with pytest.raises(ValueError):
        summarize([])


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4), (5.5, 5.8)]) == 4
    assert union_length([]) == 0


def test_clip_keeps_only_the_window():
    assert clip([(0, 2), (3, 10), (11, 12)], 1, 4) == [(1, 2), (3, 4)]


def test_self_time_subtracts_covered_children_once():
    # children overlap each other and stick out of the parent
    assert self_time(0, 10, [(1, 3), (2, 4), (9, 12)]) == pytest.approx(10 - 3 - 1)
    assert self_time(0, 10, []) == 10
