"""Seeded input matrix and recorded outputs for the regression-fit
differential test (``test_kernels.py::test_regression_fit_matches_dense_fixture``).

``tests/data/dense_fixture.npz`` holds ``solve_series`` outputs (y_hat, rho,
sigma2, beta) written by the dense-covariance fit path of commit 92f6fb7,
which built every C Sigma0(rho) C' from an n x n Sigma0.  The inputs are not
stored: :func:`cases` regenerates them from fixed seeds.

Regenerate (only meaningful on a tree whose fit path is the one to record)::

    python tests/dense_fixture.py tests/data/dense_fixture.npz
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np

#: (low periods per year, high periods per low period) of the three
#: frequency pairs: yearly->monthly, quarterly->monthly, yearly->quarterly
FREQ_PAIRS = {"A->M": (1, 12), "Q->M": (4, 3), "A->Q": (1, 4)}
METHODS = ("chow-lin", "litterman")
AGG_FUNCS = ("sum", "mean", "first", "last")
YEARS = (3, 10, 30)
BACKCASTS = (0, 13)


def cases():
    """Yield ``(key, y, X, C)`` for every cell of the input matrix, in a
    fixed order.  ``X`` is (indicator, intercept); the first ``backcast``
    high-frequency periods precede the first low period and so carry no
    constraint."""
    from tsdisagg_spark import kernels

    grid = itertools.product(METHODS, AGG_FUNCS, FREQ_PAIRS, YEARS, BACKCASTS)
    for i, (method, agg, pair, years, backcast) in enumerate(grid):
        rng = np.random.default_rng([2026, i])
        per_year, factor = FREQ_PAIRS[pair]
        n_low = years * per_year
        n = n_low * factor + backcast
        t = np.arange(n)
        x = 50.0 + 0.4 * t + 5.0 * np.sin(t / 5.0) + rng.normal(0.0, 2.0, n)
        eps = rng.normal(0.0, 3.0, n)
        u = np.empty(n)
        u[0] = eps[0]
        for j in range(1, n):
            # AR(1) disturbance for chow-lin, random walk for litterman
            u[j] = (0.7 if method == "chow-lin" else 1.0) * u[j - 1] + eps[j]
        high_labels = np.concatenate(
            [np.full(backcast, -1), np.repeat(np.arange(n_low), factor)]
        )
        C = kernels.conversion_matrix(np.arange(n_low), high_labels, factor, agg)
        y = C @ (2.0 * x + 10.0 + u)
        X = np.column_stack([x, np.ones(n)])
        yield (method, agg, pair, years, backcast), y, X, C


def record(path: str) -> None:
    """Fit every case with ``solve_series`` and write the outputs."""
    from tsdisagg_spark import kernels

    y_hats, rho, sigma2, beta = [], [], [], []
    for (method, *_), y, X, C in cases():
        y_hat, _result, info = kernels.solve_series(y, X, C, method)
        y_hats.append(y_hat)
        rho.append(info["rho"])
        sigma2.append(info["sigma2"])
        beta.append(info["beta"])
    np.savez_compressed(
        path,
        y_hat=np.concatenate(y_hats),
        offsets=np.cumsum([0] + [len(v) for v in y_hats]),
        rho=np.array(rho),
        sigma2=np.array(sigma2),
        beta=np.array(beta),
    )


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    record(sys.argv[1])
