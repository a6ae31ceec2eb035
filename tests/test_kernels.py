"""Kernel-level golden tests.

Mirrors the reference's kernel oracle values (hard-coded outputs of R
``tempdisagg`` internals, /root/reference/tests/test_computations.py) plus
structural invariants of the conversion matrix.
"""

import os

import numpy as np
import pandas as pd
import pytest
from numpy.testing import assert_allclose

from tsdisagg_spark import kernels

REF_DATA = "/root/reference/tests/data"
HERE = os.path.dirname(os.path.abspath(__file__))


def test_chow_lin_covariance_golden():
    # tempdisagg 3x3 at rho=0.95, sigma2=1 (test_computations.py:14-24)
    expected = np.array(
        [
            [10.25641, 9.74359, 9.25641],
            [9.74359, 10.25641, 9.74359],
            [9.25641, 9.74359, 10.25641],
        ]
    )
    assert_allclose(kernels.chow_lin_covariance(0.95, 1.0, 3), expected)


def test_litterman_covariance_golden():
    # tempdisagg:::CalcQ_Lit at rho=0.95 (test_computations.py:27-39)
    expected = np.array(
        [
            [1.000000, 1.950000, 2.852500, 3.709875, 4.524381],
            [1.950000, 4.802500, 7.512375, 10.086756, 12.532418],
            [2.852500, 7.512375, 12.939256, 18.094793, 22.992554],
            [3.709875, 10.086756, 18.094793, 26.702429, 34.879682],
            [4.524381, 12.532418, 22.992554, 34.879682, 47.172454],
        ]
    )
    assert_allclose(kernels.litterman_covariance(0.95, 1.0, 5), expected)


def test_gls_beta_golden():
    # tempdisagg:::CalcGLS on the AL annual/quarterly fixtures
    # (test_computations.py:42-67)
    expected = np.array([908.6679748, 0.9772889])

    low = pd.read_csv(
        f"{REF_DATA}/AL_Annual_Data_Shorter.csv", parse_dates=True, index_col="period"
    ).dropna()
    high = pd.read_csv(
        f"{REF_DATA}/AL_Quarterly_Data_Modified.csv", parse_dates=True, index_col="period"
    ).dropna()

    low_labels = kernels.period_labels(low.index, "yearly")
    high_labels = kernels.period_labels(high.index, "yearly")
    C = kernels.conversion_matrix(low_labels, high_labels, 4, "last")

    # first low-freq year only partially covered -> drop, as the reference does
    C = C[1:, :]
    y = low.to_numpy()[1:]
    X = high.assign(intercept=1)[["intercept", "Value"]].to_numpy(dtype=float)

    Sigma = kernels.chow_lin_covariance(0.95, 1.0, X.shape[0])
    beta = kernels.gls_beta(Sigma, y, X, C).ravel()
    assert_allclose(beta, expected)


def test_difference_matrix():
    D2 = kernels.difference_matrix(4, 2)
    x = np.array([1.0, 4.0, 9.0, 16.0])
    # second difference of squares is constant 2 (beyond boundary rows)
    assert_allclose((D2 @ x)[2:], [2.0, 2.0])


@pytest.mark.parametrize("agg_func", ["sum", "mean", "first", "last"])
def test_conversion_matrix_invariants(agg_func):
    # yearly low over monthly high, 3 full years + one trailing partial year
    low_ts = pd.date_range("2000-01-01", periods=4, freq="YS")
    high_ts = pd.date_range("2000-01-01", periods=38, freq="MS")  # 2 months of 2003
    low_labels = kernels.period_labels(low_ts, "yearly")
    high_labels = kernels.period_labels(high_ts, "yearly")
    C = kernels.conversion_matrix(low_labels, high_labels, 12, agg_func)

    assert C.shape == (4, 38)
    row_sums = C.sum(axis=1)
    expected_full = 12.0 if agg_func == "sum" else 1.0
    assert_allclose(row_sums[:3], expected_full)
    assert row_sums[3] == 0.0  # partial year zeroed

    x = np.arange(38, dtype=float)
    agg = C @ x
    series = pd.Series(x, index=high_ts)
    grouped = series.groupby(high_ts.year).agg(agg_func)
    assert_allclose(agg[:3], grouped.to_numpy()[:3])


def _conversion_matrix_loop(low_labels, high_labels, factor, agg_func):
    """The per-row loop ``conversion_matrix`` was before it was vectorised."""
    C = np.zeros((len(low_labels), len(high_labels)))
    weight = 1.0 / factor if agg_func == "mean" else 1.0
    for i, label in enumerate(low_labels):
        members = np.flatnonzero(high_labels == label)
        if members.size == 0 or members.size != factor:
            continue
        if agg_func == "first":
            C[i, members[0]] = weight
        elif agg_func == "last":
            C[i, members[-1]] = weight
        else:
            C[i, members] = weight
    return C


@pytest.mark.parametrize("agg_func", ["sum", "mean", "first", "last"])
def test_conversion_matrix_equals_loop(agg_func):
    """The vectorised constraint matrix is bit-identical to the per-row
    loop, with a backcast, partial periods at both ends and in the middle,
    low periods the indicator never reaches, and quarterly lows."""
    months = pd.date_range("1989-11-01", periods=12 * 9 + 7, freq="MS")
    months = months.delete(np.arange(40, 43))  # a gap inside 1992
    for family, factor, low in (
        ("yearly", 12, pd.date_range("1988-01-01", periods=13, freq="YS")),
        ("quarterly", 3, pd.date_range("1989-07-01", periods=40, freq="QS")),
    ):
        low_labels = kernels.period_labels(low, family)
        high_labels = kernels.period_labels(months, family)
        C = kernels.conversion_matrix(low_labels, high_labels, factor, agg_func)
        want = _conversion_matrix_loop(low_labels, high_labels, factor, agg_func)
        assert C.any() and (~C.any(axis=1)).sum() >= 3
        np.testing.assert_array_equal(C, want)


def test_conversion_matrix_quarterly_low():
    low_ts = pd.date_range("2000-01-01", periods=8, freq="QS")
    high_ts = pd.date_range("2000-01-01", periods=24, freq="MS")
    C = kernels.conversion_matrix(
        kernels.period_labels(low_ts, "quarterly"),
        kernels.period_labels(high_ts, "quarterly"),
        3,
        "sum",
    )
    assert_allclose(C.sum(axis=1), 3.0)
    assert_allclose(C @ np.ones(24), np.full(8, 3.0))


def test_additive_criterion_and_higher_order_invariants():
    """The aggregation constraint must hold for every (criterion, h)
    combination, and the variants must actually differ (the parameters are
    not dead)."""
    import numpy as np
    import pandas as pd

    from tsdisagg_spark.disagg import disaggregate_series

    rng = np.random.default_rng(3)
    years = pd.date_range("1990-01-01", periods=10, freq="YS")
    quarters = pd.date_range("1990-01-01", periods=40, freq="QS")
    low = pd.DataFrame({"y": rng.uniform(100.0, 200.0, 10)}, index=years)
    ind = pd.DataFrame(
        {"x": np.linspace(1.0, 4.0, 40) + rng.normal(0, 0.05, 40)},
        index=quarters,
    )

    outs = {}
    for criterion in ("proportional", "additive"):
        for h in (1, 2):
            out = disaggregate_series(
                low, ind, method="denton", agg_func="sum",
                criterion=criterion, h=h, verbose=False,
            )
            reagg = out.groupby(out.index.year).sum()
            np.testing.assert_allclose(
                reagg.to_numpy(), low["y"].to_numpy(), rtol=1e-8
            )
            outs[(criterion, h)] = out.to_numpy()

    assert not np.allclose(outs[("proportional", 1)], outs[("additive", 1)])
    assert not np.allclose(outs[("proportional", 1)], outs[("proportional", 2)])


def test_optimizer_method_honored_and_rejected():
    """optimizer_kwargs['method'] routes to a real bounded Nelder-Mead with
    scipy-semantics nit/nfev (the reference passes the name through to
    scipy.optimize.minimize, ts_disagg.py:442-448); unknown names raise
    instead of being silently ignored."""
    import numpy as np
    import pandas as pd
    import pytest

    from tsdisagg_spark.disagg import disaggregate_full

    rng = np.random.default_rng(11)
    years = pd.date_range("1990-01-01", periods=12, freq="YS")
    quarters = pd.date_range("1990-01-01", periods=48, freq="QS")
    low = pd.DataFrame({"y": np.linspace(100, 250, 12) + rng.normal(0, 5, 12)},
                       index=years)
    ind = pd.DataFrame(
        {"x": np.linspace(25, 65, 48) + rng.normal(0, 1, 48), "c": 1.0},
        index=quarters,
    )

    base = disaggregate_full(low, ind, method="chow-lin", agg_func="sum",
                             verbose=False)
    for m in ("nelder-mead", "powell", "l-bfgs-b"):
        arts = disaggregate_full(
            low, ind, method="chow-lin", agg_func="sum",
            optimizer_kwargs={"method": m}, verbose=False,
        )
        res = arts["result"]
        assert res.success and res.nit > 0 and res.nfev > res.nit
        if m != "nelder-mead":
            assert "Nelder-Mead" in res.message  # substitution is recorded
        # both optimizers find the same ML optimum -> same interpolation
        np.testing.assert_allclose(
            arts["output"].to_numpy(), base["output"].to_numpy(), rtol=1e-4
        )

    with pytest.raises(ValueError, match="Unsupported optimizer method"):
        disaggregate_full(
            low, ind, method="chow-lin", agg_func="sum",
            optimizer_kwargs={"method": "trust-constr"}, verbose=False,
        )


# ---------------------------------------------------------------------------
# banded long-series path
# ---------------------------------------------------------------------------

def _high_labels(n_low: int, factor: int, backcast: int) -> np.ndarray:
    """Period labels of a high-frequency axis whose first ``backcast``
    points precede the first low period and so carry no constraint."""
    return np.concatenate([np.full(backcast, -1), np.repeat(np.arange(n_low), factor)])


@pytest.mark.parametrize("method", ["denton", "denton-cholette"])
@pytest.mark.parametrize("criterion", ["proportional", "additive"])
@pytest.mark.parametrize("order", [1, 2])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
def test_denton_banded_equals_dense(method, criterion, order, agg, backcast=0):
    rng = np.random.default_rng(7)
    n_years, factor = 8, 12
    n = n_years * factor + backcast
    X = rng.uniform(1, 3, n).reshape(-1, 1)
    C = kernels.conversion_matrix(
        np.arange(n_years), _high_labels(n_years, factor, backcast), factor, agg
    )
    y = rng.uniform(10, 30, n_years)
    p = X.ravel()
    if method == "denton":
        Sigma = kernels.denton_covariance(n, X, order, criterion)
        D = kernels.distribution_matrix(Sigma, C)
    else:
        D = kernels.denton_cholette_distribution(n, n_years, C, X, order, criterion)
    dense = p + D @ (y - C @ p)
    y_hat = kernels.solve_series(y, X, C, method, criterion=criterion, order=order)[0]
    np.testing.assert_allclose(y_hat, dense, atol=1e-7)


@pytest.mark.parametrize("method", ["denton", "denton-cholette"])
@pytest.mark.parametrize("criterion", ["proportional", "additive"])
@pytest.mark.parametrize("order", [1, 2])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
def test_denton_banded_equals_dense_backcast(method, criterion, order, agg):
    """The same battery with 13 leading unconstrained points, which precede
    the first constraint row."""
    test_denton_banded_equals_dense(method, criterion, order, agg, backcast=13)


def test_denton_banded_long_series():
    """12k-point series through solve_series: a dense n x n solve would be
    ~1.7e12 flops and 1.2 GB for Sigma; the least-norm solve works in
    matrices of C's shape and satisfies the constraint to machine
    precision."""
    rng = np.random.default_rng(1)
    n_years, factor = 1000, 12
    n = n_years * factor
    C = kernels.conversion_matrix(
        np.arange(n_years), np.repeat(np.arange(n_years), factor), factor, "sum"
    )
    x = rng.uniform(1, 3, n)
    y = C @ (x * rng.uniform(0.9, 1.1, n))
    y_hat, res, info = kernels.solve_series(
        y, x.reshape(-1, 1), C, "denton-cholette"
    )
    assert np.abs(C @ y_hat - y).max() < 1e-9 * np.abs(y).max()
    # smoothness sanity: the solution tracks the indicator's shape
    corr = np.corrcoef(y_hat, x)[0, 1]
    assert corr > 0.9


def test_denton_matches_fixture():
    """Differential test against the banded-KKT Denton solve of commit
    42eb224 (tests/denton_fixture.py: both methods and criteria, every
    agg_func, h = 1 and 2 over 3, 10 and 166 years yearly->monthly and 10
    years quarterly->monthly, h = 3 up to 40 years, backcast 0 and 13).
    y_hat matches to 1e-11 relative for h <= 2 and 1e-8 for h = 3, and
    C y_hat = y to 1e-14 relative, on every case."""
    import denton_fixture

    ref = np.load(os.path.join(HERE, "data", "denton_fixture.npz"))
    n_cases = 0
    for i, (key, y, X, C) in enumerate(denton_fixture.cases()):
        method, criterion, order = key[:3]
        want = ref["y_hat"][ref["offsets"][i] : ref["offsets"][i + 1]]
        y_hat = kernels.solve_series(y, X, C, method, criterion=criterion, order=order)[0]
        rel = np.abs(y_hat[denton_fixture.stored(key)] - want).max() / np.abs(want).max()
        assert rel <= (1e-11 if order <= 2 else 1e-8), (key, rel)
        assert np.abs(C @ y_hat - y).max() <= 1e-14 * np.abs(y).max(), key
        n_cases += 1
    assert n_cases == len(ref["offsets"]) - 1 == 384


@pytest.mark.parametrize("years", [100, 166])
@pytest.mark.parametrize("criterion", ["proportional", "additive"])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
def test_denton_order_two_meets_constraint(years, criterion, agg):
    """Denton with h = 2 below 2000 points meets C y_hat = y to rounding
    (on these inputs the dense (Delta'Delta)^{-1} form it replaces missed by
    6e-11 to 2.5e-7 relative)."""
    rng = np.random.default_rng([12, years])
    n = years * 12
    t = np.arange(n)
    x = 50.0 + 0.4 * t + 5.0 * np.sin(t / 5.0) + rng.normal(0.0, 2.0, n)
    C = kernels.conversion_matrix(np.arange(years), np.repeat(np.arange(years), 12), 12, agg)
    y = C @ (2.0 * x + 10.0 + np.cumsum(rng.normal(0.0, 3.0, n)))
    y_hat = kernels.solve_series(y, x[:, None], C, "denton", criterion=criterion, order=2)[0]
    assert np.abs(C @ y_hat - y).max() <= 1e-14 * np.abs(y).max()


def _three_years_quarterly():
    years = pd.date_range("2000-01-01", periods=3, freq="YS")
    quarters = pd.date_range("2000-01-01", periods=12, freq="QS")
    low = pd.Series([100.0, 120.0, 90.0], index=years, name="y")
    ind = pd.Series(np.linspace(10.0, 32.0, 12) + np.tile([3.0, -1.0, 2.0, -4.0], 3),
                    index=quarters, name="x")
    return low, ind


def test_denton_cholette_rejects_fewer_periods_than_order():
    """With fewer low periods than h, Cholette's first h coordinates are not
    determined: raise naming both counts instead of returning an arbitrary
    member of the solution set.  A negative h raises too."""
    from tsdisagg_spark.disagg import disaggregate_series

    C = kernels.conversion_matrix(np.arange(3), np.repeat(np.arange(3), 4), 4, "sum")
    x = np.linspace(1.0, 2.0, 12)[:, None]
    y = np.array([5.0, 6.0, 7.0])
    with pytest.raises(ValueError, match=r"h = 4 needs at least 4 .* got 3"):
        kernels.solve_series(y, x, C, "denton-cholette", order=4)
    with pytest.raises(ValueError, match="h must be >= 0"):
        kernels.solve_series(y, x, C, "denton", order=-1)
    low, ind = _three_years_quarterly()
    with pytest.raises(ValueError, match=r"h = 4 needs at least 4 .* got 3"):
        disaggregate_series(low, ind, method="denton-cholette", h=4, verbose=False)
    with pytest.raises(ValueError, match="h must be >= 0"):
        disaggregate_series(low, ind, method="denton-cholette", h=-1, verbose=False)
    # h equal to the number of low periods is determined
    out = disaggregate_series(low, ind, method="denton-cholette", h=3, verbose=False)
    np.testing.assert_allclose(out.groupby(out.index.year).sum().to_numpy(), low.to_numpy())


@pytest.mark.parametrize("method", ["denton", "denton-cholette"])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
def test_denton_proportional_zero_indicator(method, agg):
    """A zero indicator month under 'proportional' gets y_hat = 0 and the
    series still meets C y_hat = y; a low period whose indicator is all zero
    raises instead of returning NaN."""
    from tsdisagg_spark.disagg import disaggregate_series

    low, ind = _three_years_quarterly()
    zero = 5  # the second quarter of 2001: neither its first nor its last
    ind.iloc[zero] = 0.0
    for order in (1, 2):
        out = disaggregate_series(low, ind, method=method, agg_func=agg, h=order, verbose=False)
        assert np.isfinite(out.to_numpy()).all()
        assert out.iloc[zero] == 0.0
        reagg = getattr(out.groupby(out.index.year), agg)().to_numpy()
        assert np.abs(reagg - low.to_numpy()).max() <= 1e-13 * low.abs().max()
    ind.iloc[4:8] = 0.0
    with pytest.raises(ValueError, match=r"periods \[1\] have an all-zero indicator"):
        disaggregate_series(low, ind, method=method, agg_func=agg, verbose=False)


# ---------------------------------------------------------------------------
# Chow-Lin and Litterman against the dense pipeline (the test names keep the
# "banded" of the banded-KKT back end they were written for; every fit now
# runs the one LDL' recursion)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("factor", [3, 12])
@pytest.mark.parametrize("k", [1, 2])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
@pytest.mark.parametrize("rho", [0.1, 0.85])
def test_chow_lin_banded_equals_dense(factor, k, agg, rho, backcast=0):
    """32 configs: at fixed rho the Chow-Lin machinery (GLS beta,
    distribution, concentrated NLL) must reproduce the dense pipeline at
    1e-7 — the direct analog of the Denton banded-vs-dense battery (which
    also compares the solve at fixed hyperparameters)."""
    rng = np.random.default_rng(factor + k)
    n_low = 30
    n = n_low * factor + backcast
    X = rng.uniform(1, 3, (n, k))
    C = kernels.conversion_matrix(
        np.arange(n_low), _high_labels(n_low, factor, backcast), factor, agg
    )
    beta_true = np.linspace(2.0, 3.0, k)
    u = np.empty(n)
    u[0] = rng.standard_normal()
    for t in range(1, n):
        u[t] = 0.6 * u[t - 1] + 0.4 * rng.standard_normal()
    y = C @ (X @ beta_true + u)

    yh_b, beta_b, s_b, nll_b = kernels.chow_lin_banded_solve(y, X, C, rho)

    Sigma0 = kernels.chow_lin_covariance(rho, 1.0, n)
    beta_d = kernels.gls_beta(Sigma0, y, X, C)
    D = kernels.distribution_matrix(Sigma0, C)
    p = X @ beta_d
    yh_d = p + D @ (y - C @ p)
    nll_d, s_d = kernels.profile_negative_loglik(
        rho, y, X, C, kernels.chow_lin_covariance
    )

    np.testing.assert_allclose(beta_b, beta_d, rtol=1e-7)
    np.testing.assert_allclose(yh_b, yh_d, rtol=1e-7, atol=1e-7)
    np.testing.assert_allclose(s_b, s_d, rtol=1e-7)
    np.testing.assert_allclose(nll_b, nll_d, rtol=1e-9, atol=1e-8)


@pytest.mark.parametrize("factor", [3, 12])
@pytest.mark.parametrize("k", [1, 2])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
@pytest.mark.parametrize("rho", [0.1, 0.85])
def test_chow_lin_banded_equals_dense_backcast(factor, k, agg, rho):
    """The same 32 configs with 13 leading unconstrained points."""
    test_chow_lin_banded_equals_dense(factor, k, agg, rho, backcast=13)


def _assert_dense_profile_optimum(result, y, X, C, cov_builder):
    """The fit's NLL and sigma2 equal the dense profile likelihood's at the
    fitted rho, which is a minimum of that profile on a 1e-3 bracket."""
    rho, sigma2 = result.x
    nll_d, s_d = kernels.profile_negative_loglik(rho, y, X, C, cov_builder)
    np.testing.assert_allclose(result.fun, nll_d, rtol=1e-9)
    np.testing.assert_allclose(sigma2, s_d / (1.0 + rho), rtol=1e-7)
    for step in (-1e-3, 1e-3):
        assert kernels.profile_negative_loglik(rho + step, y, X, C, cov_builder)[0] >= nll_d


def test_chow_lin_banded_full_fit_equals_dense():
    """Full fit vs the dense pipeline at its optimum on a sharply
    identified AR series: ``chow_lin_banded_fit`` and ``fit_rho_sigma`` run
    the same fit, and y_hat and the standard errors match the dense GLS at
    the fitted rho/sigma2."""
    rng = np.random.default_rng(2)
    factor, n_low = 4, 60
    n = n_low * factor
    X = rng.uniform(1, 3, (n, 1))
    C = kernels.conversion_matrix(
        np.arange(n_low), np.repeat(np.arange(n_low), factor), factor, "sum"
    )
    u = np.empty(n)
    u[0] = 0.0
    for t in range(1, n):
        u[t] = 0.75 * u[t - 1] + rng.standard_normal()
    y = C @ (2.5 * X.ravel() + u)

    yh_b, res_b, info_b = kernels.chow_lin_banded_fit(y, X, C)

    res_d = kernels.fit_rho_sigma(y, X, C, kernels.chow_lin_covariance)
    np.testing.assert_allclose(res_b.fun, res_d.fun, rtol=1e-9)
    np.testing.assert_allclose(res_b.x, res_d.x, rtol=1e-6)
    _assert_dense_profile_optimum(res_b, y, X, C, kernels.chow_lin_covariance)
    Sigma = kernels.chow_lin_covariance(*res_d.x, n)
    beta_d = kernels.gls_beta(Sigma, y, X, C)
    D = kernels.distribution_matrix(Sigma, C)
    p = X @ beta_d
    yh_d = p + D @ (y - C @ p)
    np.testing.assert_allclose(yh_b, yh_d, rtol=1e-6, atol=1e-7)
    np.testing.assert_allclose(
        info_b["std_beta"], kernels.beta_std_errors(Sigma, X), rtol=1e-6
    )


def test_solve_series_dispatches_banded_chow_lin():
    """Above BANDED_THRESHOLD, solve_series and chow_lin_banded_fit run the
    same fit (a dense grid scan at this size would build a ~2 GB Sigma
    stack per pass — value parity with the dense pipeline is covered by the
    32-config battery and the full-fit test at dense-feasible sizes)."""
    rng = np.random.default_rng(3)
    factor = 12
    n_low = 200
    n = n_low * factor  # 2400 >= BANDED_THRESHOLD
    X = rng.uniform(1, 3, (n, 1))
    C = kernels.conversion_matrix(
        np.arange(n_low), np.repeat(np.arange(n_low), factor), factor, "sum"
    )
    u = np.empty(n)
    u[0] = 0.0
    for t in range(1, n):
        u[t] = 0.5 * u[t - 1] + rng.standard_normal()
    y = C @ (2.0 * X.ravel() + u)
    y_hat, result, info = kernels.solve_series(y, X, C, "chow-lin")
    assert result is not None and "beta" in info

    yh_b, res_b, info_b = kernels.chow_lin_banded_fit(y, X, C)
    np.testing.assert_array_equal(y_hat, yh_b)
    np.testing.assert_array_equal(result.x, res_b.x)
    # and the constraint identity holds: C y_hat == y
    np.testing.assert_allclose(C @ y_hat, y, rtol=1e-9)


def test_chow_lin_banded_96k_points():
    """96k-point chow-lin (8000 low periods x 12): dense Sigma alone would
    be 74 GB / O(n^3) flops — the LDL' recursion fits the full profile-ML in
    well under the dense path's build time, recovers the true AR
    coefficient, and satisfies the aggregation constraint to machine
    precision (C y_hat == y exactly is a Chow-Lin identity).  The constraint
    matrix rides in block form (lo, hi, vals): dense C itself would be 6 GB.

    The WALL-TIME bound is anchored to THIS box (ADVICE r13 #2: an
    absolute constant calibrated to the slowest observed host lets a ~10x
    superlinear regression pass on a fast one): the test first times the
    SAME kernel at 1/8 the points and asserts the 96k fit stays within a
    linear-scaling envelope of that anchor — 8x the work, x4 allowance
    for co-tenant contention and fit-iteration count variation.  The fit
    is ~linear in n (the per-row python loop of the recursion and the O(n)
    distribution filters dominate; conftest pins BLAS to 1 thread — the
    engine's worker configuration), so any dense-path regression (an
    accidental dense materialization is O(n^2) memory — 74 GB at 96k —
    before it is O(n^3) time) blows a linear envelope by orders of
    magnitude."""
    import time

    def _fit_case(n_low: int, factor: int = 12):
        rng = np.random.default_rng(5)
        n = n_low * factor
        x = rng.uniform(1, 3, n)
        lo_b = np.arange(n_low) * factor
        hi_b = lo_b + factor - 1
        idx = np.repeat(np.arange(n_low), factor)
        u = np.empty(n)
        u[0] = 0.0
        eps = rng.standard_normal(n) * 0.5
        for t in range(1, n):
            u[t] = 0.7 * u[t - 1] + eps[t]
        y = np.bincount(idx, weights=3.0 * x + u)
        t0 = time.perf_counter()
        y_hat, result, info = kernels.chow_lin_banded_fit(
            y, x.reshape(-1, 1), (lo_b, hi_b, np.ones(n))
        )
        return time.perf_counter() - t0, y_hat, info, idx, y, x

    # per-box anchor: 12k points, 1/8 of the 96k workload
    t_small, *_ = _fit_case(1000)

    elapsed, y_hat, info, idx, y, x = _fit_case(8000)
    bound = max(60.0, 8 * 4 * t_small)
    assert elapsed < bound, (
        f"96k-point fit took {elapsed:.0f}s vs a linear-scaling "
        f"envelope of {bound:.0f}s (12k anchor {t_small:.1f}s on this box) "
        "— dense-path leak?"
    )
    reagg = np.bincount(idx, weights=y_hat)
    assert np.abs(reagg - y).max() < 1e-9 * np.abs(y).max()
    assert abs(info["rho"] - 0.7) < 0.05          # true AR(1) coefficient
    assert abs(info["beta"][0] - 3.0) < 0.05      # true regression slope
    assert np.corrcoef(y_hat, x)[0, 1] > 0.9


@pytest.mark.parametrize("factor", [3, 12])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
@pytest.mark.parametrize("rho", [0.15, 0.8])
def test_litterman_banded_equals_dense(factor, agg, rho, backcast=0):
    """Litterman (two-dimensional state of the recursion): fixed-rho parity
    vs the dense pipeline at 1e-7 — note the dense path pays an O(n^3)
    inverse just to BUILD Sigma."""
    rng = np.random.default_rng(factor)
    n_low = 25
    n = n_low * factor + backcast
    X = rng.uniform(1, 3, (n, 1))
    C = kernels.conversion_matrix(
        np.arange(n_low), _high_labels(n_low, factor, backcast), factor, agg
    )
    u = np.cumsum(0.3 * rng.standard_normal(n))  # random-walk disturbance
    y = C @ (2.0 * X.ravel() + u)

    nll_b, s_b, beta_b, yh_b = kernels._regression_backend(y, X, C, "litterman")[1](rho)

    Sigma0 = kernels.litterman_covariance(rho, 1.0, n)
    beta_d = kernels.gls_beta(Sigma0, y, X, C)
    D = kernels.distribution_matrix(Sigma0, C)
    p = X @ beta_d
    yh_d = p + D @ (y - C @ p)
    nll_d, s_d = kernels.profile_negative_loglik(
        rho, y, X, C, kernels.litterman_covariance
    )
    np.testing.assert_allclose(beta_b, beta_d, rtol=1e-7)
    np.testing.assert_allclose(yh_b, yh_d, rtol=1e-7, atol=1e-7)
    np.testing.assert_allclose(s_b, s_d, rtol=1e-7)
    np.testing.assert_allclose(nll_b, nll_d, rtol=1e-9, atol=1e-8)


@pytest.mark.parametrize("factor", [3, 12])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
@pytest.mark.parametrize("rho", [0.15, 0.8])
def test_litterman_banded_equals_dense_backcast(factor, agg, rho):
    """The same battery with 13 leading unconstrained points."""
    test_litterman_banded_equals_dense(factor, agg, rho, backcast=13)


def test_litterman_banded_full_fit_equals_dense():
    """Full Litterman fit vs the dense pipeline at its optimum: y_hat and
    the standard errors match the dense GLS at the fitted rho/sigma2."""
    rng = np.random.default_rng(7)
    factor, n_low = 4, 25
    n = n_low * factor
    X = rng.uniform(1, 3, (n, 1))
    C = kernels.conversion_matrix(
        np.arange(n_low), np.repeat(np.arange(n_low), factor), factor, "sum"
    )
    u = np.cumsum(0.3 * rng.standard_normal(n))
    y = C @ (2.0 * X.ravel() + u)

    yh_b, res_b, info_b = kernels._regression_fit(y, X, C, "litterman", None)
    res_d = kernels.fit_rho_sigma(y, X, C, kernels.litterman_covariance)
    np.testing.assert_allclose(res_b.fun, res_d.fun, rtol=1e-9)
    np.testing.assert_allclose(res_b.x, res_d.x, rtol=1e-6)
    _assert_dense_profile_optimum(res_b, y, X, C, kernels.litterman_covariance)
    Sigma = kernels.litterman_covariance(*res_d.x, n)
    beta_d = kernels.gls_beta(Sigma, y, X, C)
    D = kernels.distribution_matrix(Sigma, C)
    p = X @ beta_d
    yh_d = p + D @ (y - C @ p)
    np.testing.assert_allclose(yh_b, yh_d, rtol=1e-6, atol=1e-7)
    np.testing.assert_allclose(
        info_b["std_beta"], kernels.beta_std_errors(Sigma, X), rtol=1e-6
    )


def test_solve_series_dispatches_banded_litterman():
    """Above BANDED_THRESHOLD, solve_series runs the one regression fit for
    litterman too — the dense path's O(n^3) covariance INVERSE alone would
    dwarf the whole fit at this size."""
    rng = np.random.default_rng(9)
    factor, n_low = 12, 200
    n = n_low * factor  # 2400 >= BANDED_THRESHOLD
    X = rng.uniform(1, 3, (n, 1))
    C = kernels.conversion_matrix(
        np.arange(n_low), np.repeat(np.arange(n_low), factor), factor, "sum"
    )
    u = np.cumsum(0.2 * rng.standard_normal(n))
    y = C @ (2.0 * X.ravel() + u)
    y_hat, result, info = kernels.solve_series(y, X, C, "litterman")
    assert result is not None and "beta" in info
    yh_b, res_b, _ = kernels._regression_fit(y, X, C, "litterman", None)
    np.testing.assert_array_equal(y_hat, yh_b)
    np.testing.assert_allclose(C @ y_hat, y, rtol=1e-9)


# ---------------------------------------------------------------------------
# the LDL' recursion of V0 = C Sigma0 C' and the regression fit path
# ---------------------------------------------------------------------------

def _dense_sigma0(method: str, rho: float, n: int) -> np.ndarray:
    """Unit-scale Sigma0 as a dense n x n matrix.  Litterman's is formed
    from its factor (Delta^{-1} H^{-1})(Delta^{-1} H^{-1})' rather than by
    inverting the precision, which near rho = 1 loses ~1e-8 relative."""
    if method == "chow-lin":
        return kernels.chow_lin_covariance(rho, 1.0, n)
    lag = np.subtract.outer(np.arange(n), np.arange(n))
    H_inv = np.where(lag >= 0, rho ** np.maximum(lag, 0), 0.0)
    F = np.tril(np.ones((n, n))) @ H_inv
    return F @ F.T


def _v0_solve(method: str, grid: np.ndarray, C: np.ndarray, rhs: np.ndarray) -> tuple:
    """``(V0^{-1} rhs, log det V0)`` from the LDL' recursion for every rho of
    ``grid``: (G, n_low, c) and (G,)."""
    rows = kernels._row_shapes(kernels._blocks(C, C.shape[1]))
    w, D, back = kernels._v0_factor(method, grid, rows, rhs)
    return back(w / D[..., None]), np.log(D).sum(axis=1)


@pytest.mark.parametrize("factor", [3, 4, 12])
@pytest.mark.parametrize("agg", ["sum", "mean", "first", "last"])
@pytest.mark.parametrize("method", ["chow-lin", "litterman"])
def test_closed_form_v0_equals_dense(method, agg, factor):
    """The LDL' recursion factors the dense V0 = C Sigma0(rho) C': on the
    coarse scan grid and the top refinement bracket (where litterman is
    worst conditioned), with a 13-period backcast ahead of the first
    constraint, its x = V0^{-1} b leaves a residual
    ||V0 x - b|| <= 1e-13 ||V0|| ||x|| (max norms), and its log det V0
    matches slogdet to 1e-10."""
    n_low, backcast = 8, 13
    high_labels = np.concatenate(
        [np.full(backcast, -1), np.repeat(np.arange(n_low), factor)]
    )
    C = kernels.conversion_matrix(np.arange(n_low), high_labels, factor, agg)
    n = C.shape[1]
    coarse = np.linspace(1e-5, 1 - 1e-5, 41)
    grid = np.concatenate([coarse, np.linspace(coarse[-2], coarse[-1], 33)])
    b = np.random.default_rng(factor).normal(size=(n_low, 3))
    x, logdet = _v0_solve(method, grid, C, b)
    assert x.shape == (len(grid), n_low, 3)
    for g, rho in enumerate(grid):
        dense = C @ _dense_sigma0(method, rho, n) @ C.T
        residual = np.abs(dense @ x[g] - b).max() / (np.abs(dense).max() * np.abs(x[g]).max())
        assert residual <= 1e-13, (rho, residual)
        sign, want = np.linalg.slogdet(dense)
        assert sign > 0 and abs(logdet[g] - want) <= 1e-10 * max(1.0, abs(want)), rho


def _v0_longdouble(method: str, rho: float, C: np.ndarray) -> np.ndarray:
    """V0 = C Sigma0 C' in np.longdouble, from Sigma0 C' by the O(n)
    first-order recursions of both models (no n x n matrix)."""
    ld = np.longdouble
    r = ld(rho)

    def ar(v, reverse=False):  # H^{-1} v column-wise, or H^{-T} v
        out, acc = np.empty_like(v), np.zeros(v.shape[1], dtype=ld)
        for t in range(len(v) - 1, -1, -1) if reverse else range(len(v)):
            acc = v[t] + r * acc
            out[t] = acc
        return out

    Ct = C.T.astype(ld)
    if method == "chow-lin":
        S = (ar(Ct) + ar(Ct, reverse=True) - Ct) / (1 - r * r)
    else:
        S = np.cumsum(ar(ar(np.cumsum(Ct[::-1], axis=0)[::-1], reverse=True)), axis=0)
    rows, cols = np.nonzero(C)
    V0 = np.zeros((len(C), len(C)), dtype=ld)
    np.add.at(V0, rows, C[rows, cols].astype(ld)[:, None] * S[cols])
    return V0


@pytest.mark.parametrize("years", [3, 30, 200])
@pytest.mark.parametrize("backcast", [0, 13])
@pytest.mark.parametrize("agg", ["sum", "first"])
@pytest.mark.parametrize("method", ["chow-lin", "litterman"])
def test_ldl_recursion_matches_longdouble(method, agg, backcast, years):
    """V0^{-1} [CX, y] from the LDL' recursion is within 1e-7 (relative,
    per column) of a long-double solve at rho from the bound 1e-5 to
    1 - 1e-5.  At 200 years, where V0 is worst conditioned, it is also no
    further from it than a float64 LU of V0 (or within 1e-14 of it: at
    small rho both are at rounding)."""
    rng = np.random.default_rng([years, backcast])
    n = years * 12 + backcast
    C = kernels.conversion_matrix(np.arange(years), _high_labels(years, 12, backcast), 12, agg)
    t = np.arange(n)
    x = 50.0 + 0.4 * t + 5.0 * np.sin(t / 5.0) + rng.normal(0.0, 2.0, n)
    rhs = np.column_stack([C @ x, C @ np.ones(n), C @ (2.0 * x + np.cumsum(rng.normal(0, 3, n)))])
    grid = np.array([1e-5, 0.5, 0.99, 0.999, 1 - 1e-5])
    solved, _logdet = _v0_solve(method, grid, C, rhs)

    def rel(a, b):
        return float((np.abs(a - b).max(axis=0) / np.abs(b).max(axis=0)).max())

    for g, rho in enumerate(grid):
        V0 = _v0_longdouble(method, rho, C)
        exact = _ld_solve(V0, rhs.astype(np.longdouble))
        err = rel(solved[g], exact)
        assert err <= 1e-7, (rho, err)
        if years == 200:
            assert err <= max(rel(np.linalg.solve(V0.astype(float), rhs), exact), 1e-14), (rho, err)


@pytest.mark.parametrize("method", ["chow-lin", "litterman"])
def test_long_fit_allocates_no_sigma_stack(method):
    """A 100-year monthly fit (n = 1200) runs on the LDL' recursion: its
    traced peak stays under two n x n matrices (the
    dense builders hold at least three while forming one Sigma0), let alone
    a (G, n, n) covariance stack (41 x 1200^2 doubles = 472 MB)."""
    import tracemalloc

    rng = np.random.default_rng(12)
    n_low, factor = 100, 12
    n = n_low * factor
    C = kernels.conversion_matrix(
        np.arange(n_low), np.repeat(np.arange(n_low), factor), factor, "sum"
    )
    X = np.column_stack([rng.uniform(1, 3, n), np.ones(n)])
    y = C @ (2.0 * X[:, 0] + np.cumsum(rng.normal(0.0, 0.3, n)))
    tracemalloc.start()
    try:
        y_hat, _result, info = kernels.solve_series(y, X, C, method)
        _current, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 2 * n * n * 8, f"peak {peak / 2**20:.1f} MiB"
    np.testing.assert_allclose(C @ y_hat, y, rtol=1e-9)
    assert np.all(np.isfinite(info["std_beta"]))


def _ld_lu_solve(A: np.ndarray, B: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(A^{-1} B, log|det A|)`` by Gaussian elimination with partial
    pivoting in the arrays' dtype (np.linalg has no long double routines)."""
    A, B = A.copy(), B.copy()
    n = len(A)
    for c in range(n):
        p = c + int(np.argmax(np.abs(A[c:, c])))
        A[[c, p]], B[[c, p]] = A[[p, c]], B[[p, c]]
        f = A[c + 1 :, c] / A[c, c]
        A[c + 1 :] -= f[:, None] * A[c]
        B[c + 1 :] -= f[:, None] * B[c]
    for c in range(n - 1, -1, -1):
        B[c] = (B[c] - A[c, c + 1 :] @ B[c + 1 :]) / A[c, c]
    return B, np.log(np.abs(np.diagonal(A))).sum()


def _ld_solve(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return _ld_lu_solve(A, B)[0]


def _negative_loglik_longdouble(params, y, X, C, method) -> float:
    """The reference's NLL (``negative_loglik``: V = (1 + rho) sigma2 V0)
    in np.longdouble."""
    ld = np.longdouble
    rho, sigma2 = (ld(p) for p in params)
    V0 = _v0_longdouble(method, float(rho), C)
    CX, yl = C.astype(ld) @ X.astype(ld), y.astype(ld)
    k, n_low = X.shape[1], len(y)
    solved, logdet0 = _ld_lu_solve(V0, np.column_stack([CX, yl]))
    beta = _ld_solve(CX.T @ solved[:, :k], (CX.T @ solved[:, k])[:, None])[:, 0]
    resid = yl - CX @ beta
    s = (1 + rho) * sigma2
    quad = resid @ _ld_solve(V0, resid[:, None])[:, 0] / s
    return float(0.5 * (n_low * np.log(2 * np.pi * s) + logdet0 + quad))


def _litterman_y_hat_longdouble(y, X, C, rho):
    """Litterman GLS + distribution step at fixed rho in np.longdouble,
    through the factor F = Delta^{-1} H^{-1} (Sigma0 = F F')."""
    ld = np.longdouble
    n = X.shape[0]
    r = ld(rho)
    geo = np.concatenate([[ld(0)], np.cumsum(r ** np.arange(n, dtype=ld))])
    lag = np.subtract.outer(np.arange(n), np.arange(n))
    F = np.where(lag >= 0, geo[np.maximum(lag, 0) + 1], ld(0))
    CF = C.astype(ld) @ F
    CX, yl = C.astype(ld) @ X.astype(ld), y.astype(ld)
    solved = _ld_solve(CF @ CF.T, np.column_stack([CX, yl]))
    k = X.shape[1]
    beta = _ld_solve(CX.T @ solved[:, :k], (CX.T @ solved[:, k])[:, None])[:, 0]
    z = _ld_solve(CF @ CF.T, (yl - CX @ beta)[:, None])[:, 0]
    return X.astype(ld) @ beta + F @ (CF.T @ z)


def test_regression_fit_matches_dense_fixture():
    """Differential test against the dense-Sigma fit path of commit 92f6fb7
    (tests/dense_fixture.py: chow-lin and litterman, every agg_func,
    A->M, Q->M and A->Q, 3/10/30 years, backcast 0 and 13).

    * C y_hat = y.
    * y_hat matches the fixture to 1e-10, or else the fitted rho differs
      only where the profile likelihood is flat to rounding: the new NLL at
      both rhos agrees to 1e-12, and y_hat recomputed at the fixture's rho
      matches to 1e-10.  (With first/last over 12 months the low-frequency
      points are a year apart, so for small rho the profile is flat to
      ~1e-16 and the argmin is decided by rounding.)
    * Litterman fits near the upper rho bound are also recomputed in long
      double: the new y_hat must be at least as close to it as the fixture
      (to 1e-12), because the dense path solved an ill-conditioned
      precision there.
    """
    import dense_fixture

    ref = np.load(os.path.join(HERE, "data", "dense_fixture.npz"))
    n_cases = 0
    for i, (key, y, X, C) in enumerate(dense_fixture.cases()):
        method = key[0]
        want = ref["y_hat"][ref["offsets"][i] : ref["offsets"][i + 1]]
        rho_ref = float(ref["rho"][i])

        def rel(a, b=want):
            return float(np.abs(a - b).max() / np.abs(b).max())

        y_hat, _result, info = kernels.solve_series(y, X, C, method)
        np.testing.assert_allclose(C @ y_hat, y, rtol=1e-9, err_msg=str(key))
        evaluate = kernels._regression_backend(y, X, C, method)[1]
        nll_ref, _s, _b, at_ref = evaluate(rho_ref)
        if rel(y_hat) > 1e-10:
            nll_new, _s, _b, _y = evaluate(info["rho"])
            assert abs(nll_new - nll_ref) <= 1e-12 * abs(nll_ref), key
            assert rel(at_ref) <= 1e-10, key
        else:
            np.testing.assert_allclose(info["rho"], rho_ref, rtol=1e-6, atol=1e-8)
            np.testing.assert_allclose(info["beta"], ref["beta"][i], rtol=1e-6)
            np.testing.assert_allclose(info["sigma2"], ref["sigma2"][i], rtol=1e-6)
        if method == "litterman" and rho_ref > 0.999:
            exact = _litterman_y_hat_longdouble(y, X, C, rho_ref).astype(float)
            assert rel(at_ref, exact) <= max(rel(want, exact), 1e-12), key
        n_cases += 1
    assert n_cases == len(ref["rho"]) == 144


def test_regression_fit_matches_long_fixture():
    """Differential test against the banded-KKT fit of commit 87d7d32
    (tests/long_fixture.py: chow-lin and litterman, every agg_func, 170 and
    200 years A->M and 170 years Q->M, backcast 0 and 13; every case has
    n >= 2000 points, which that tree fitted on the banded KKT).

    * C y_hat = y to 1e-12 relative.
    * The fitted rho is within 1e-6 of the fixture's, or, where the
      stored y_hat points differ by more than 1e-9 relative, differs only
      where the profile likelihood is flat to rounding: the NLL at both
      rhos agrees to 1e-12.
    * At the fixture's rho, y_hat, beta and sigma2 match it to 1e-9
      relative.
    """
    import long_fixture

    ref = np.load(os.path.join(HERE, "data", "long_fixture.npz"))
    n_cases = 0
    for i, (key, y, X, C) in enumerate(long_fixture.cases()):
        method = key[0]
        want = ref["y_hat"][ref["offsets"][i] : ref["offsets"][i + 1]]

        def rel(a, b=want):
            return float(np.abs(a[long_fixture.STORED] - b).max() / np.abs(b).max())

        y_hat, _result, info = kernels.solve_series(y, X, C, method)
        assert np.abs(C @ y_hat - y).max() <= 1e-12 * np.abs(y).max(), key
        rho_ref = float(ref["rho"][i])
        evaluate = kernels._regression_backend(y, X, C, method)[1]
        nll_ref, s_ref, beta_ref, at_ref = evaluate(rho_ref)
        if rel(y_hat) > 1e-9:
            assert abs(evaluate(info["rho"])[0] - nll_ref) <= 1e-12 * abs(nll_ref), key
        else:
            # the profile search resolves rho to ~1e-6 (see _profile_fit)
            assert abs(info["rho"] - rho_ref) <= 1e-6, key
        # at the fixture's rho, y_hat, beta and sigma2 are the fixture's
        assert rel(at_ref) <= 1e-9, key
        np.testing.assert_allclose(beta_ref, ref["beta"][i], rtol=1e-9, err_msg=str(key))
        np.testing.assert_allclose(s_ref / (1.0 + rho_ref), ref["sigma2"][i], rtol=1e-9)
        n_cases += 1
    assert n_cases == len(ref["rho"]) == 48


@pytest.mark.parametrize("method", ["chow-lin", "litterman"])
def test_nelder_mead_objective_equals_dense(method):
    """The simplex objective read off the LDL' profile equals the
    reference's NLL (``negative_loglik``, V = (1 + rho) sigma2 V0), formed
    in long double, to 1e-12 relative across rho and sigma2 (the dense
    float64 objective misses it by up to 1e-11 near the rho bound).
    Nelder-Mead on it stops at a
    point whose dense NLL is within 1e-10 of the point Nelder-Mead reaches
    on the dense objective: the two simplex paths part only where the
    objective is flat to rounding (e.g. sigma2 ~ 95 resolved to ~3e-8
    relative), so the points themselves agree to 1e-5."""
    import dense_fixture

    builder = kernels.COVARIANCE_BUILDERS[method]
    key, y, X, C = next(c for c in dense_fixture.cases() if c[0][:4] == (method, "sum", "Q->M", 10))
    profile = kernels._regression_backend(y, X, C, method)[0]
    objective = kernels._simplex_objective(profile, len(y))
    for rho in (1e-5, 0.3, 0.9, 1 - 1e-5):
        for sigma2 in (1e-3, 1.0, 50.0):
            params = np.array([rho, sigma2])
            want = _negative_loglik_longdouble(params, y, X, C, method)
            assert abs(objective(params) - want) <= 1e-12 * abs(want), (rho, sigma2)

    result = kernels.solve_series(y, X, C, method, optimizer_kwargs={"method": "nelder-mead"})[1]
    dense = kernels._nelder_mead_minimize(
        lambda p: kernels.negative_loglik(p, y, X, C, builder), np.full(2, 0.8),
        np.array([1e-5, 1e-5]), np.array([1 - 1e-5, np.inf]), xatol=1e-6, fatol=1e-8,
    )[0]
    f_dense = kernels.negative_loglik(dense, y, X, C, builder)
    assert kernels.negative_loglik(result.x, y, X, C, builder) <= f_dense + 1e-10 * abs(f_dense)
    np.testing.assert_allclose(result.x, dense, rtol=1e-5)


def test_simplex_and_profile_fits_build_no_dense_covariance(monkeypatch):
    """Neither optimizer builds an n x n covariance: with every dense
    builder made to raise, both methods still fit under the profile default
    and under Nelder-Mead."""
    def refuse(*_args):
        raise AssertionError("dense covariance built")

    for method in kernels.COVARIANCE_BUILDERS:
        monkeypatch.setitem(kernels.COVARIANCE_BUILDERS, method, refuse)
    monkeypatch.setattr(kernels, "chow_lin_covariance", refuse)
    monkeypatch.setattr(kernels, "litterman_covariance", refuse)
    y, X, C = _degenerate_case("backcast_mean")
    for method in ("chow-lin", "litterman"):
        for opt in (None, {"method": "nelder-mead"}):
            y_hat, result, _info = kernels.solve_series(y, X, C, method, optimizer_kwargs=opt)
            np.testing.assert_allclose(C @ y_hat, y, rtol=1e-9)
            assert result.nfev > 0


def _exact_fit_case(seed: int):
    """A 3-7 year monthly series whose yearly target is the sum of its own
    first indicator: y = C x1 with X = (x1, x2, 1)."""
    rng = np.random.default_rng([7, seed])
    years = int(rng.integers(3, 8))
    n = 12 * years
    x2 = rng.integers(1000, 3000, n).astype(float)
    x1 = np.round(x2 * rng.uniform(1400, 1600, n) * (1 + 0.003 * np.arange(n)), 2)
    C = kernels.conversion_matrix(
        np.arange(years), np.repeat(np.arange(years), 12), 12, "sum"
    )
    return C @ x1, np.column_stack([x1, x2, np.ones(n)]), C


@pytest.mark.parametrize("method", ["chow-lin", "litterman"])
def test_exact_fit_recovers_indicator(method):
    """On an exact fit the profiled scale hits its 1e-300 floor.  beta and
    the distribution step come from the unit-scale Sigma0, so y_hat is the
    indicator itself, finite, and the standard errors are finite."""
    for seed in range(40):
        y, X, C = _exact_fit_case(seed)
        y_hat, _result, info = kernels.solve_series(y, X, C, method)
        assert np.all(np.isfinite(y_hat)), seed
        np.testing.assert_allclose(y_hat, X[:, 0], rtol=1e-8, err_msg=f"seed {seed}")
        assert np.all(np.isfinite(info["std_beta"])), seed


def test_exact_fit_tpch_series():
    """The series behind ``disagg_two_indicators``' null ``y``: monthly
    shipped value (x1) and quantity (x2) of return flag 'A' in the seeded
    TPC-H-shaped schema (seed 11), with the yearly sum of x1 as target.  The
    dense-Sigma post-fit overflowed at sigma2 ~ 7e-301 and returned NaN."""
    from tsdisagg_spark.disagg import disaggregate_full

    m = pd.read_csv(
        os.path.join(HERE, "data", "exact_fit_monthly.csv"),
        parse_dates=["ts"], index_col="ts",
    )
    low = m["x1"].groupby(m.index.year).sum()
    low.index = pd.to_datetime([f"{y}-01-01" for y in low.index])
    arts = disaggregate_full(
        low.to_frame("y"), m.assign(intercept=1.0), method="chow-lin",
        agg_func="sum", verbose=False,
    )
    out = arts["output"]
    assert np.all(np.isfinite(out.to_numpy()))
    full = out.groupby(out.index.year).agg(["sum", "count"])
    full = full[full["count"] == 12]
    np.testing.assert_allclose(full["sum"], low.loc[low.index.year.isin(full.index)], rtol=1e-9)
    assert np.all(np.isfinite(arts["report"].select_dtypes("number").to_numpy()))


def test_fit_rho_sigma_rejects_other_builders():
    y, X, C = _degenerate_case("two_years")
    with pytest.raises(ValueError, match="COVARIANCE_BUILDERS"):
        kernels.fit_rho_sigma(y, X, C, lambda rho, s2, n: kernels.chow_lin_covariance(rho, s2, n))


def _degenerate_case(name: str):
    """``(y, X, C)`` of a degenerate yearly->monthly regression input."""
    years, backcast, agg = {
        "two_years": (2, 0, "sum"), "k_equals_n_low": (3, 0, "sum"),
        "backcast_mean": (10, 36, "mean"),
    }.get(name, (10, 0, "sum"))
    rng = np.random.default_rng(41)
    n = 12 * years + backcast
    C = kernels.conversion_matrix(np.arange(years), _high_labels(years, 12, backcast), 12, agg)
    x1, x2 = 50.0 + 0.3 * np.arange(n) + rng.normal(0.0, 2.0, (2, n))
    y = C @ (2.0 * x1 + np.cumsum(rng.normal(0.0, 1.0, n)))
    X = np.column_stack([x1, np.ones(n)])
    if name == "k_equals_n_low":
        X = np.column_stack([x1, x2, np.ones(n)])
    elif name == "constant_y":
        y = np.full(years, 120.0)
    elif name == "zero_y":
        y = np.zeros(years)
    elif name == "collinear":
        X = np.column_stack([x1, 2.0 * x1, np.ones(n)])
    elif name == "constant_x":
        X = np.ones((n, 2))
    return y, X, C


def _block_form(C: np.ndarray) -> tuple:
    """``(lo, hi, vals)`` of a dense constraint matrix with contiguous rows."""
    lo = np.array([np.flatnonzero(row)[0] for row in C])
    hi = np.array([np.flatnonzero(row)[-1] for row in C])
    return lo, hi, np.concatenate([C[a, lo[a] : hi[a] + 1] for a in range(len(C))])


@pytest.mark.parametrize("block_form", [False, True])
@pytest.mark.parametrize("method", ["chow-lin", "litterman"])
@pytest.mark.parametrize(
    "case", ["two_years", "k_equals_n_low", "constant_y", "zero_y", "backcast_mean"]
)
def test_degenerate_inputs_meet_constraint(case, method, block_form):
    """The regression fit gives a finite y_hat with C y_hat = y and finite
    standard errors on degenerate input, with C dense or in block form (the
    two give the same fit).  With k >= n_low the profile likelihood is
    flat, so only the constraint is asserted, not rho."""
    y, X, C = _degenerate_case(case)
    y_hat, _result, info = kernels._regression_fit(
        y, X, _block_form(C) if block_form else C, method, None
    )
    assert np.all(np.isfinite(y_hat))
    np.testing.assert_allclose(C @ y_hat, y, rtol=1e-9, atol=1e-9)
    assert np.all(np.isfinite(info["std_beta"]))
    if block_form:
        np.testing.assert_array_equal(y_hat, kernels._regression_fit(y, X, C, method, None)[0])


@pytest.mark.parametrize("method", ["chow-lin", "litterman"])
def test_regression_fit_ignores_row_order(method):
    """Permuting the constraint rows (and y with them) leaves the fit
    unchanged; overlapping rows raise."""
    y, X, C = _degenerate_case("backcast_mean")
    perm = np.random.default_rng(5).permutation(len(y))
    y_hat, result, info = kernels._regression_fit(y, X, C, method, None)
    y_perm, result_perm, _ = kernels._regression_fit(y[perm], X, C[perm], method, None)
    np.testing.assert_allclose(y_perm, y_hat, rtol=1e-12)
    np.testing.assert_allclose(result_perm.x, result.x, rtol=1e-12)
    C[1, C[0] != 0] = 1.0
    with pytest.raises(ValueError, match="non-overlapping"):
        kernels._regression_fit(y, X, C, method, None)


@pytest.mark.parametrize("block_form", [False, True])
@pytest.mark.parametrize("method", ["chow-lin", "litterman"])
@pytest.mark.parametrize("case", ["collinear", "constant_x"])
def test_degenerate_indicators_raise(case, method, block_form):
    """Collinear or constant indicator columns make CX' V^{-1} CX singular:
    the fit raises instead of returning a silent NaN series, with C dense
    or in block form."""
    y, X, C = _degenerate_case(case)
    with pytest.raises(np.linalg.LinAlgError):
        kernels._regression_fit(y, X, _block_form(C) if block_form else C, method, None)


def test_call_contract_is_per_family():
    """The call contract checks h only for the Denton family and the
    optimizer only for the regression methods, which each ignore the
    other's argument; the public fit aliases reject an unknown optimizer
    through it."""
    y, X, C = _degenerate_case("ten_years")
    bad_opt = {"method": "trust-constr"}
    with pytest.raises(ValueError, match="Unsupported optimizer method 'trust-constr'"):
        kernels.chow_lin_banded_fit(y, X, C, bad_opt)
    with pytest.raises(ValueError, match="Unsupported optimizer method 'trust-constr'"):
        kernels.fit_rho_sigma(y, X, C, kernels.litterman_covariance, bad_opt)
    with pytest.raises(ValueError, match="Unsupported optimizer method 'trust-constr'"):
        kernels.solve_series(y, X, C, "chow-lin", order=-1, optimizer_kwargs=bad_opt)
    with pytest.raises(ValueError, match="h must be >= 0"):
        kernels.solve_series(y, X[:, :1], C, "denton", order=-1, optimizer_kwargs=bad_opt)
    base = kernels.solve_series(y, X, C, "chow-lin")[0]
    assert np.array_equal(kernels.solve_series(y, X, C, "chow-lin", order=-1)[0], base)
    den = kernels.solve_series(y, X[:, :1], C, "denton")[0]
    assert np.array_equal(
        kernels.solve_series(y, X[:, :1], C, "denton", optimizer_kwargs=bad_opt)[0], den
    )
