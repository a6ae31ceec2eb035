"""Seeded input matrix and recorded outputs for the Denton-family
differential test (``test_kernels.py::test_denton_matches_fixture``).

``tests/data/denton_fixture.npz`` holds the outputs y_hat of the banded-KKT
Denton solve ``denton_banded`` of commit 42eb224, which met C y_hat = y to
rounding at every length and was that tree's most accurate Denton path.
The inputs are not stored: :func:`cases` regenerates them from fixed seeds.
Cells of 40 years and more store every 13th point (13 is prime to both
factors, so every month and quarter position is sampled), which keeps the
file near 300 KB.

Regenerate (only meaningful on a tree whose Denton path is the one to
record)::

    python tests/denton_fixture.py tests/data/denton_fixture.npz
"""

from __future__ import annotations

import itertools
import os
import sys

import numpy as np

METHODS = ("denton", "denton-cholette")
CRITERIA = ("proportional", "additive")
AGG_FUNCS = ("sum", "mean", "first", "last")
BACKCASTS = (0, 13)
#: (frequency pair, years, differencing orders): yearly->monthly and
#: quarterly->monthly; order 3 only up to 40 years
CELLS = (
    ("A->M", 3, (1, 2, 3)),
    ("A->M", 10, (1, 2, 3)),
    ("A->M", 40, (3,)),
    ("A->M", 166, (1, 2)),
    ("Q->M", 10, (1, 2, 3)),
)
#: (low periods per year, high periods per low period)
FREQ_PAIRS = {"A->M": (1, 12), "Q->M": (4, 3)}


def cases():
    """Yield ``(key, y, X, C)`` for every cell of the input matrix, in a
    fixed order, with ``key = (method, criterion, order, agg, pair, years,
    backcast)``.  ``X`` is one positive indicator column; the first
    ``backcast`` high-frequency periods precede the first low period and so
    carry no constraint."""
    from tsdisagg_spark import kernels

    grid = (
        (method, criterion, order, agg, pair, years, backcast)
        for pair, years, orders in CELLS
        for method, criterion, order, agg, backcast in itertools.product(
            METHODS, CRITERIA, orders, AGG_FUNCS, BACKCASTS
        )
    )
    for i, key in enumerate(grid):
        _method, _criterion, _order, agg, pair, years, backcast = key
        rng = np.random.default_rng([2027, i])
        per_year, factor = FREQ_PAIRS[pair]
        n_low = years * per_year
        n = n_low * factor + backcast
        t = np.arange(n)
        x = 50.0 + 0.4 * t + 5.0 * np.sin(t / 5.0) + rng.normal(0.0, 2.0, n)
        high_labels = np.concatenate(
            [np.full(backcast, -1), np.repeat(np.arange(n_low), factor)]
        )
        C = kernels.conversion_matrix(np.arange(n_low), high_labels, factor, agg)
        y = C @ (2.0 * x + 10.0 + np.cumsum(rng.normal(0.0, 3.0, n)))
        yield key, y, x.reshape(-1, 1), C


def stored(key) -> slice:
    """The points of a case's y_hat the fixture keeps."""
    return slice(None, None, 13) if key[5] >= 40 else slice(None)


def record(path: str) -> None:
    """Solve every case with ``denton_banded`` and write the outputs."""
    from tsdisagg_spark import kernels

    y_hats = [
        kernels.denton_banded(y, X, C, key[0], key[2], key[1])[stored(key)]
        for key, y, X, C in cases()
    ]
    np.savez_compressed(
        path,
        y_hat=np.concatenate(y_hats),
        offsets=np.cumsum([0] + [len(v) for v in y_hats]),
    )


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    record(sys.argv[1])
