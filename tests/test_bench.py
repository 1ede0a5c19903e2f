"""Unit tests for the estimator helpers that bench.py ships."""
from __future__ import annotations


def test_marginal_estimate_math_and_guard():
    """Protocol-3 arithmetic: rate = ddocs/dt; fixed-cost recovery;
    degeneracy guard trips when dt <= 25% of t_big."""
    from bench import marginal_estimate

    # 100k docs in 4.0s, 400k in 10.0s -> marginal 300k/6s = 50k/s,
    # fixed = 4.0 - 100000/50000 = 2.0s
    est = marginal_estimate((100000, 1000000), (400000, 4000000),
                            4.0, 10.0)
    assert est["ok"] is True
    assert est["seq_per_sec"] == 50000.0
    assert est["tok_per_sec"] == 500000.0
    assert abs(est["fixed_cost_sec"] - 2.0) < 1e-9
    # degenerate: dt = 0.5s on a 10s big run (5% < 25%) -> pointwise
    est = marginal_estimate((100000, 1000000), (400000, 4000000),
                            9.5, 10.0)
    assert est["ok"] is False
    assert est["seq_per_sec"] == 40000.0
    assert est["fixed_cost_sec"] is None


def test_pointwise_monotone_noise_margin():
    """The monotonicity validity gate tolerates inversions inside the
    5% timing-noise margin: a zero-margin gate censors exactly the
    rows whose 2-run-median noise went one way — a value-correlated
    filter that would bias the surviving-row median upward."""
    from bench import pointwise_monotone

    assert pointwise_monotone(30000.0, 33000.0)        # normal
    assert pointwise_monotone(30000.0, 28600.0)        # -4.7%: noise
    assert not pointwise_monotone(30000.0, 28000.0)    # -6.7%: real
    # ledger row 23's real inversion (31.8k -> 28.2k, -11%) still trips
    assert not pointwise_monotone(31788.3, 28249.0)
