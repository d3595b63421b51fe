"""Kernel unit tests — golden values recomputed from raw formulas, the
reference's test pattern (/root/reference/tests/testthat/test-reduce.R:27-33)."""

import numpy as np
import pytest

from sits_spark import kernels


def test_sgolay_central_row_classic():
    c = kernels.sgolay_coef(3, 5)
    np.testing.assert_allclose(c[2] * 35, [-3, 12, 17, 12, -3], atol=1e-9)


def test_sgolay_rows_sum_to_one():
    c = kernels.sgolay_coef(3, 7)
    np.testing.assert_allclose(c.sum(axis=1), np.ones(7), atol=1e-9)


def test_sg_exact_on_cubic():
    x = np.arange(30, dtype=float)
    y = (0.05 * x**3 - 0.7 * x**2 + 3 * x + 7).reshape(1, -1)
    out = kernels.smooth_sg_mtx(y)
    np.testing.assert_allclose(out, y, atol=1e-8)


def test_sg_short_series_passthrough():
    y = np.array([[1.0, 2.0, 3.0]])
    np.testing.assert_array_equal(kernels.smooth_sg_mtx(y), y)


def test_sg_mirror_symmetry():
    # reversing the input reverses the output (head/tail matrices mirror,
    # R/api_signal.R:76)
    rng = np.random.default_rng(7)
    y = rng.normal(size=(1, 21))
    fwd = kernels.smooth_sg_mtx(y)
    rev = kernels.smooth_sg_mtx(y[:, ::-1])
    np.testing.assert_allclose(fwd, rev[:, ::-1], atol=1e-10)


def test_whittaker_lambda_zero_is_identity():
    rng = np.random.default_rng(0)
    d = rng.normal(size=(2, 25))
    out = kernels.smooth_whit_mtx(d, 1e-12)
    np.testing.assert_allclose(out, d, atol=1e-8)


def test_whittaker_solves_normal_equations():
    # z must satisfy (I + lambda * D'D) z = y with 2nd-order differences
    rng = np.random.default_rng(1)
    y = rng.normal(size=30)
    lam = 2.5
    z = kernels.smooth_whit_mtx(y.reshape(1, -1), lam)[0]
    n = len(y)
    D = np.zeros((n - 2, n))
    for i in range(n - 2):
        D[i, i : i + 3] = [1.0, -2.0, 1.0]
    A = np.eye(n) + lam * D.T @ D
    np.testing.assert_allclose(A @ z, y, atol=1e-8)


def test_whittaker_short_series_passthrough():
    y = np.array([[1.0, 5.0, 2.0]])
    np.testing.assert_array_equal(kernels.smooth_whit_mtx(y, 0.5), y)


def _whit_ragged_rows(rows, lamb):
    """smooth_whit_ragged over ``rows`` (sorted longest first), split back."""
    lens = np.array([len(r) for r in rows], dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
    out = kernels.smooth_whit_ragged(np.concatenate(rows), offs, lens, lamb)
    return [out[o : o + n] for o, n in zip(offs, lens)]


@pytest.mark.parametrize("case", ["one_chunk_row", "ragged_with_short", "all_nan"])
def test_whittaker_ragged_bit_identical_to_mtx(case):
    """The fused kernel smooths every segment through smooth_whit_ragged
    and the oracle through smooth_whit_mtx: the two solvers must agree
    bit for bit, per row, at the pipeline's lambda."""
    from sits_spark import engine_core

    lam = engine_core.WHIT_LAMBDA
    rng = np.random.default_rng(12)
    if case == "one_chunk_row":  # one full chunk's extended window
        rows = [rng.normal(50.0, 9.0, engine_core.CHUNK_SLOTS + 2 * engine_core.CHUNK_OVERLAP)]
    elif case == "ragged_with_short":
        # more rows than the python-tail cutoff, so both paths run
        lens = [700, 700, 123, 9, 5, 4, 3, 2, 1] + list(rng.integers(4, 300, 40))
        rows = [rng.normal(0.0, 3.0, n) for n in lens]
    else:
        rows = [rng.normal(size=40), np.full(17, np.nan), rng.normal(size=6)]
    rows.sort(key=len, reverse=True)
    for got, row in zip(_whit_ragged_rows(rows, lam), rows):
        want = kernels.smooth_whit_mtx(row.reshape(1, -1), lam)[0]
        assert np.array_equal(got.view(np.uint64), want.view(np.uint64)), len(row)


def test_linear_interp_taxonomy():
    v = np.array([[np.nan, np.nan, 2.0, np.nan, np.nan, 8.0, np.nan]])
    out = kernels.linear_interp_mtx(v)[0]
    np.testing.assert_allclose(out, [2, 2, 2, 4, 6, 8, 8])


def test_linear_interp_all_nan_stays():
    v = np.array([[np.nan, np.nan]])
    assert np.isnan(kernels.linear_interp_mtx(v)).all()


def test_reduce_kernels_against_formulas():
    rng = np.random.default_rng(3)
    m = rng.normal(size=(5, 40))
    np.testing.assert_allclose(kernels.temp_mean(m), m.mean(axis=1))
    np.testing.assert_allclose(kernels.temp_std(m), m.std(axis=1, ddof=1))
    np.testing.assert_allclose(kernels.temp_median(m), np.median(m, axis=1))


def test_sgolay_validation():
    with pytest.raises(ValueError):
        kernels.sgolay_coef(3, 4)
    with pytest.raises(ValueError):
        kernels.sgolay_coef(5, 5)


def test_dtw_windows_matches_reference_recurrence():
    """Vectorized DP == direct transliteration of the symmetric-2
    recurrence (src/dtw.cpp:73-105), bit-exact."""
    def naive(a, b):
        n, o = len(a), len(b)
        d = np.zeros((n, o))
        d[0][0] = abs(a[0] - b[0])
        for i in range(1, n):
            d[i][0] = d[i - 1][0] + abs(a[i] - b[0])
        for j in range(1, o):
            d[0][j] = d[0][j - 1] + abs(a[0] - b[j])
        for i in range(1, n):
            for j in range(1, o):
                c = abs(a[i] - b[j])
                d[i][j] = min(d[i - 1][j - 1] + 2 * c, d[i][j - 1] + c, d[i - 1][j] + c)
        return d[n - 1][o - 1]

    rng = np.random.default_rng(11)
    for w, m in ((4, 3), (7, 7), (3, 9)):
        wins = rng.normal(0, 10, (40, w))
        pat = rng.normal(0, 10, m)
        got = kernels.dtw_windows(wins, pat)
        want = np.array([naive(win, pat) for win in wins])
        assert np.array_equal(got, want)


def test_dtw_identity_and_shift():
    pat = np.array([1.0, 2.0, 3.0])
    wins = np.array([[1.0, 2.0, 3.0], [2.0, 3.0, 4.0]])
    d = kernels.dtw_windows(wins, pat)
    assert d[0] == 0.0 and d[1] > 0.0
