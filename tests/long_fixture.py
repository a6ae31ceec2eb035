"""Seeded input matrix and recorded outputs for the long regression-fit
differential test (``test_kernels.py::test_regression_fit_matches_long_fixture``).

``tests/data/long_fixture.npz`` holds ``solve_series`` outputs (a sample of
y_hat, and rho, sigma2, beta) written by commit 87d7d32, where every case
here (n >= 2000 high-frequency points) was fitted on the banded KKT
[[P, C'], [C, 0]] of the band precision P.  The inputs are not stored:
:func:`cases` regenerates them from fixed seeds.  y_hat keeps every 7th
point (7 is prime to both factors, so every month and quarter position is
sampled), which keeps the file near 100 KB.

Regenerate (only meaningful on a tree whose fit path is the one to record)::

    python tests/long_fixture.py tests/data/long_fixture.npz
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np

METHODS = ("chow-lin", "litterman")
AGG_FUNCS = ("sum", "mean", "first", "last")
BACKCASTS = (0, 13)
#: (frequency pair, years): yearly->monthly and quarterly->monthly
CELLS = (("A->M", 170), ("A->M", 200), ("Q->M", 170))
#: (low periods per year, high periods per low period)
FREQ_PAIRS = {"A->M": (1, 12), "Q->M": (4, 3)}
#: the stored y_hat points
STORED = slice(None, None, 7)


def cases():
    """Yield ``(key, y, X, C)`` for every cell of the input matrix, in a
    fixed order, with ``key = (method, agg, pair, years, backcast)``.  ``X``
    is (indicator, intercept); the first ``backcast`` high-frequency periods
    precede the first low period and so carry no constraint."""
    from tsdisagg_spark import kernels

    grid = (
        (method, agg, pair, years, backcast)
        for pair, years in CELLS
        for method, agg, backcast in itertools.product(METHODS, AGG_FUNCS, BACKCASTS)
    )
    for i, key in enumerate(grid):
        method, agg, pair, years, backcast = key
        rng = np.random.default_rng([2028, i])
        per_year, factor = FREQ_PAIRS[pair]
        n_low = years * per_year
        n = n_low * factor + backcast
        t = np.arange(n)
        x = 50.0 + 0.4 * t + 5.0 * np.sin(t / 5.0) + rng.normal(0.0, 2.0, n)
        eps = rng.normal(0.0, 3.0, n)
        u = np.empty(n)
        u[0] = eps[0]
        phi = 0.7 if method == "chow-lin" else 1.0  # AR(1) or random walk
        for j in range(1, n):
            u[j] = phi * u[j - 1] + eps[j]
        high_labels = np.concatenate(
            [np.full(backcast, -1), np.repeat(np.arange(n_low), factor)]
        )
        C = kernels.conversion_matrix(np.arange(n_low), high_labels, factor, agg)
        y = C @ (2.0 * x + 10.0 + u)
        yield key, y, np.column_stack([x, np.ones(n)]), C


def record(path: str) -> None:
    """Fit every case with ``solve_series`` and write the outputs."""
    from tsdisagg_spark import kernels

    y_hats, rho, sigma2, beta = [], [], [], []
    for key, y, X, C in cases():
        y_hat, _result, info = kernels.solve_series(y, X, C, key[0])
        y_hats.append(y_hat[STORED])
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
