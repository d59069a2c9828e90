"""bench.py: the one timed loop and the fixed-plus-marginal scale fit."""

from __future__ import annotations

import pytest

import bench
from flink_1_11_2_with_comments_spark import queries as q

from .conftest import SF_SMOKE


def _work_count_fit(t1, t5, t10, w1):
    """The fit as the per-face profiles wrote it, over a work count w
    (frames, decodes, samples) that is w1 at 1x and exactly f*w1 at
    f x under build_scaled's row replication."""
    w5, w10 = 5 * w1, 10 * w1
    marginal = (t5 - t1) / (w5 - w1)
    fixed = t1 - marginal * w1
    pred10 = fixed + marginal * w10
    return {"fixed_sec": fixed, "fixed_share_base": fixed / t1,
            "x10_predicted_sec": pred10,
            "x10_prediction_err": (t10 - pred10) / t10}


def test_fit_known_answer():
    # T(f) = 1.5 + 0.5 f on (1, 5); 10x predicted 6.5 s, measured 7 s
    assert bench._fit(2.0, 4.0, 7.0) == {
        "fixed_sec": 1.5, "fixed_share_base": 0.75,
        "marginal_sec_per_x": 0.5, "x10_predicted_sec": 6.5,
        "x10_prediction_err": 0.071}


@pytest.mark.parametrize("t1,t5,t10,w1", [
    (2.0, 4.0, 7.0, 1000),
    (1.2345, 2.8765, 5.4321, 3717),
    (0.9021, 1.0133, 1.3012, 46_125),
    (3.5, 3.1, 3.0, 1),  # marginal < 0: fixed exceeds t1
])
def test_fit_equals_work_count_form(t1, t5, t10, w1):
    got = bench._fit(t1, t5, t10)
    for key, want in _work_count_fit(t1, t5, t10, w1).items():
        digits = 3 if key in ("fixed_share_base",
                              "x10_prediction_err") else 4
        assert abs(got[key] - want) <= 0.5 * 10 ** -digits + 1e-12, key


def test_time_queries_returns_runs_timings_per_name(spark):
    names = ["tpch_q6", "agg_global"]
    took = bench._time_queries(spark, q.all_specs(), names, SF_SMOKE,
                               runs=2)
    assert list(took) == names
    for name in names:
        assert len(took[name]) == 2
        assert all(s > 0 for s in took[name])
