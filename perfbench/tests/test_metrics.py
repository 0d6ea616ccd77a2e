"""Tests of the benchmark's own metric arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from metrics import (  # noqa: E402
    count_failures,
    driver_gap,
    median_passes,
    new_stage_ids,
    normalize_rows,
    output_mismatch,
    query_order,
    sum_into,
    union_length,
    unequal,
)


def test_query_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(12)]
    first = query_order(names, seed=7, pass_index=0)
    assert sorted(first) == sorted(names)
    assert first == query_order(list(names), seed=7, pass_index=0)
    assert first != query_order(names, seed=8, pass_index=0)
    assert first != query_order(names, seed=7, pass_index=1)
    assert names == [f"q{i}" for i in range(12)]  # input left alone


def test_pass_aggregation_sums_queries_then_takes_the_median_of_passes():
    passes = []
    for scale in (1.0, 3.0, 2.0):
        total: dict[str, float] = {}
        sum_into(total, {"pass_s": 1.0 * scale, "sched.jobs": 3})
        sum_into(total, {"pass_s": 0.5 * scale, "sched.jobs": 4})
        passes.append(total)
    assert [p["pass_s"] for p in passes] == [1.5, 4.5, 3.0]
    assert median_passes(passes) == {"pass_s": 3.0, "sched.jobs": 7}
    assert median_passes([{"a": 1.0}, {"a": 2.0}]) == {"a": 1.5}


def test_new_stage_ids_counts_each_stage_once():
    seen: set[int] = set()
    # job 2 reuses stage 1 (skipped) and runs stage 2
    assert new_stage_ids([[0, 1], [1, 2]], seen) == [0, 1, 2]
    # the next query's jobs list stage 2 again beside its own new stages
    assert new_stage_ids([[2, 3], [4]], seen) == [3, 4]
    assert new_stage_ids([[3]], seen) == []
    assert new_stage_ids([], seen) == []
    assert seen == {0, 1, 2, 3, 4}


def test_union_length_merges_overlapping_and_touching_intervals():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([(5, 6), (0, 1), (0.5, 0.75)]) == 2
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(3, 3), (4, 2)]) == 0  # empty and inverted intervals


def test_driver_gap_is_window_minus_covered_time():
    # parallel stages overlap; the gap counts only the uncovered time
    assert driver_gap((0, 10), [(1, 4), (2, 5), (7, 8)]) == pytest.approx(5)
    # stages reaching outside the timed window are clipped to it
    assert driver_gap((10, 20), [(5, 12), (18, 30)]) == pytest.approx(6)
    assert driver_gap((0, 4), []) == 4
    assert driver_gap((0, 4), [(0, 4)]) == 0


def test_output_comparison_ignores_row_and_column_order():
    got_cols, got = ["b", "a"], [(2.0, "x"), (1.0, "y")]
    want_cols, want = ["a", "B"], [("y", 1), ("x", 2)]
    assert output_mismatch(got_cols, got, want_cols, want) is None
    assert normalize_rows(got_cols, got) == normalize_rows(want_cols, want)


def test_output_comparison_reports_each_kind_of_difference():
    assert "columns" in output_mismatch(["a"], [(1,)], ["b"], [(1,)])
    assert "row count" in output_mismatch(["a"], [(1,), (2,)], ["a"], [(1,)])
    assert output_mismatch(["a"], [(1.0000000001,)], ["a"], [(1.0,)]) is None
    assert output_mismatch(["a"], [(1.001,)], ["a"], [(1.0,)]) == "1 rows differ"
    assert output_mismatch(["a"], [(None,)], ["a"], [(0,)]) == "1 rows differ"
    assert output_mismatch(["a"], [(float("nan"),)], ["a"], [(float("nan"),)]) is None


def test_failure_count_counts_exceptions_and_mismatches():
    outcomes = [None, "q1: RuntimeError: boom", None, "q2: 3 rows differ", None]
    assert count_failures(outcomes) == (5, 2)
    assert count_failures([None]) == (1, 0)
    assert count_failures([]) == (0, 0)


def test_unequal_names_counters_that_moved_between_passes():
    passes = [{"sched.jobs": 5, "io.input_bytes": 10}, {"sched.jobs": 5, "io.input_bytes": 11}]
    assert unequal(passes, ("sched.jobs", "io.input_bytes")) == ["io.input_bytes"]
    assert unequal(passes[:1], ("sched.jobs",)) == []
