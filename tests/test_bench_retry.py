"""Quiet-gate retry selection in ``bench.py``."""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

LAPS = {
    "quiet": [1.00, 1.01, 1.02],  # 1% spread: under the gate
    "noisy": [1.00, 1.50, 1.60],  # 50% spread
    "retry_errored": [1.00, 1.50, 1.60],
    "failed": [1.00, 2.00, 2.00],
    "no_times": [],
}


def test_offenders_are_the_noisy_laps_not_failed_or_empty():
    assert bench.retry_offenders(LAPS, 15, {"failed"}) == ["noisy", "retry_errored"]
    assert bench.retry_offenders(LAPS, 60, {"failed"}) == []


def test_a_query_that_errored_in_a_retry_round_is_not_picked_again():
    # it keeps its noisy first-lap timings, which must not make it an
    # offender (and burn a round on the same error) in every later round
    excluded = {"failed", "retry_errored"}
    assert bench.retry_offenders(LAPS, 15, excluded) == ["noisy"]


def test_lap_stats_spread_is_median_over_best():
    best, spread, worst = bench.lap_stats([2.0, 3.0, 2.5])
    assert (best, spread, worst) == (2.0, 0.25, 0.5)
