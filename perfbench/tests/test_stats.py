"""Tests of the benchmark's own helpers: the stratified mix, the seeded
job stream, the tail percentile rule and failure
accounting. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import stats  # noqa: E402


def test_mix_is_a_proportional_stratified_sample_of_the_registry():
    entry = pytest.importorskip("__spark_entry__")
    registry = entry.queries()
    sizes = Counter(stats.module_of(fn) for fn in registry.values())
    picked = Counter(module for module, _ in stats.MIX)
    assert dict(picked) == stats.allocate(dict(sizes), stats.MIX_SIZE)
    for module, name in stats.MIX:
        assert stats.module_of(registry[name]) == module
    names = [name for _, name in stats.MIX]
    assert len(set(names)) == len(names) == stats.MIX_SIZE
    assert [m for m, _ in stats.MIX] == sorted(m for m, _ in stats.MIX)
    assert set(stats.JOB_QUERIES) <= set(names)


def test_allocate_uses_largest_remainder():
    assert stats.allocate({"a": 5, "b": 3, "c": 2}, 5) == {"a": 3, "b": 1, "c": 1}
    assert stats.allocate({"a": 1, "b": 1}, 1) == {"a": 1}
    assert sum(stats.allocate({str(i): i for i in range(1, 30)}, 10).values()) == 10


def test_job_sequence_is_reproducible_and_balanced():
    seq = stats.job_sequence(3, 40)
    assert seq == stats.job_sequence(3, 40)
    assert seq != stats.job_sequence(4, 40)
    # every block of four holds each job kind once
    for i in range(0, 40, 4):
        assert sorted(j.kind for j in seq[i:i + 4]) == sorted(stats.JOB_KINDS)
    queries = [j.query for j in seq if j.kind == "query"]
    assert all(q in stats.JOB_QUERIES for q in queries)
    # query names cycle through the whole pool before repeating
    first = Counter(queries[: len(stats.JOB_QUERIES)])
    assert set(first) == set(stats.JOB_QUERIES)
    assert all(j.query is None for j in seq if j.kind != "query")
    assert stats.job_sequence(3, 5) == seq[:5]


@pytest.mark.parametrize(
    "n, pct", [(1, 100), (19, 100), (20, 50), (23, 56), (100, 90), (1000, 99)]
)
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if n >= 20:
        values = [float(i) for i in range(n)]
        tail = stats.nearest_rank(values, pct)
        assert sum(v > tail for v in values) >= 10
        # one percentile higher would leave fewer than ten beyond
        higher = stats.nearest_rank(values, pct + 1)
        assert sum(v > higher for v in values) < 10 or pct + 1 > 100


def test_small_samples_report_the_maximum_as_tail():
    s = stats.latency_summary([3.0, 1.0, 2.0])
    assert (s["tail_pct"], s["tail"], s["beyond_tail"]) == (100, 3.0, 0)


def test_latency_summary_reports_percentile_and_count():
    lat = [float(i) for i in range(1, 101)]
    s = stats.latency_summary(lat)
    assert s["p50"] == 50.5
    assert (s["tail_pct"], s["tail"], s["n"], s["beyond_tail"]) == (90, 90.0, 100, 10)


def test_tail_can_come_from_other_samples_than_the_median():
    # jobs-mixed: median over batches, tail over the single jobs
    batches = [4.0, 5.0, 6.0]
    jobs = [float(i) for i in range(1, 41)]
    s = stats.latency_summary(batches, jobs)
    assert s["p50"] == 5.0
    assert (s["tail_pct"], s["tail"], s["n"], s["beyond_tail"]) == (75, 30.0, 40, 10)


def test_failure_accounting_counts_errors_and_wrong_answers():
    outcomes = [
        stats.Outcome("a", 1.0),
        stats.Outcome("b", 1.0, error="boom"),
        stats.Outcome("c", 1.0, wrong="values differ"),
        stats.Outcome("d", 2.0),
    ]
    acc = stats.accounting(outcomes)
    assert acc == {"attempted": 4, "failed": 2, "ok_frac": 0.5}
    assert stats.accounting([])["attempted"] == 0


def test_quartile_spread():
    assert stats.quartile_spread([1.0] * 10) == 0.0
    v = [float(x) for x in range(1, 11)]
    assert stats.quartile_spread(v) == pytest.approx((8.25 - 2.75) / 5.5)
