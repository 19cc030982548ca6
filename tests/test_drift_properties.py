"""Property fuzz for the drift statistics (pure driver-side functions that
gate pass/fail verdicts — `operators/drift.py`). Invariants checked against
their mathematical definitions, plus a differential arm: the sketch-based
KS must approximate scipy-free exact two-sample KS computed directly from
the samples the sketches were built on."""

import numpy as np
from hypothesis import given, settings, strategies as st

from jio_spark.operators.drift import ks_from_quantiles, psi_from_histograms

FUZZ = dict(deadline=None, max_examples=200, derandomize=True)

finite = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False)


def _quantiles(xs, k=101):
    return np.quantile(np.asarray(xs, dtype=float),
                       np.linspace(0, 1, k)).tolist()


@settings(**FUZZ)
@given(st.lists(finite, min_size=2, max_size=200),
       st.lists(finite, min_size=2, max_size=200))
def test_ks_bounds_identity_symmetry(a, b):
    qa, qb = _quantiles(a), _quantiles(b)
    ks = ks_from_quantiles(qa, qb)
    assert 0.0 <= ks <= 1.0
    assert ks_from_quantiles(qa, qa) == 0.0
    # symmetric up to float noise (sup over the same merged grid)
    assert abs(ks - ks_from_quantiles(qb, qa)) < 1e-9


@settings(**FUZZ)
@given(st.lists(finite, min_size=20, max_size=200),
       st.floats(1.0, 1e5))
def test_ks_detects_location_shift(a, shift):
    """A pure location shift of a nondegenerate sample must register:
    the exact two-sample KS of x vs x+shift where shift exceeds the
    sample's span is 1; the sketch version must be close to it."""
    x = np.asarray(a, dtype=float)
    big = float(x.max() - x.min()) + shift  # disjoint supports
    ks = ks_from_quantiles(_quantiles(x), _quantiles(x + big))
    assert ks > 0.98


@settings(**FUZZ)
@given(st.lists(finite, min_size=30, max_size=300),
       st.lists(finite, min_size=30, max_size=300))
def test_ks_matches_exact_two_sample(a, b):
    """Differential: with dense (k=101) sketches, ks_from_quantiles must
    track the exact empirical two-sample KS within sketch resolution
    (each CDF is read off a 1%-grid staircase → ≤ ~1 grid step of error
    per side)."""
    x, y = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    grid = np.unique(np.concatenate([x, y]))
    cx = np.searchsorted(np.sort(x), grid, side="right") / len(x)
    cy = np.searchsorted(np.sort(y), grid, side="right") / len(y)
    exact = float(np.max(np.abs(cx - cy)))
    approx = ks_from_quantiles(_quantiles(x), _quantiles(y))
    assert abs(approx - exact) <= 0.06  # a few 1% grid steps + ties


@settings(**FUZZ)
@given(st.lists(st.integers(0, 10**6), min_size=2, max_size=64),
       st.lists(st.integers(0, 10**6), min_size=2, max_size=64))
def test_psi_nonnegative_zero_iff_same_shape(ha, hb):
    n = min(len(ha), len(hb))
    ha, hb = ha[:n], hb[:n]
    psi = psi_from_histograms(ha, hb)
    # PSI is an f-divergence-style sum: nonnegative, 0 on identical
    # shapes, symmetric-in-zero (eps smoothing keeps it finite)
    assert psi >= -1e-12
    assert psi_from_histograms(ha, ha) == 0.0
    # scale invariance: PSI compares PROPORTIONS
    assert abs(psi_from_histograms(ha, [3 * v for v in ha])) < 1e-9
    # degenerate inputs: defined, not NaN
    assert psi_from_histograms([0] * n, hb) == 0.0
