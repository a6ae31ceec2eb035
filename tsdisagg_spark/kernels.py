"""Per-series numerical kernels for temporal disaggregation.

Pure NumPy — importable and unit-testable without Spark.  On the cluster
these run *inside* a grouped-map pandas UDF (one call per series), so every
function here operates on a single series' arrays (n = high-frequency
length, typically 10^2-10^3).

Paths (:func:`solve_series` dispatches): the Denton family takes one
least-norm solve (:func:`_denton_least_norm`) at every length, in matrices
of C's shape.  One regression driver (:func:`_regression_fit`) fits
Chow-Lin and Litterman on either of two back ends: closed-form
V0 = C Sigma0 C' stacks below ``BANDED_THRESHOLD`` points, and above it the
interleaved KKT [[P, C'], [C, 0]] with P the band precision, through one
assembly (:func:`_kkt_solve`) and one grid banded LU — neither forms an
n x n covariance.  The dense forms (:func:`denton_covariance`,
:func:`denton_cholette_distribution`, :func:`chow_lin_covariance`,
:func:`litterman_covariance`, :func:`gls_beta`, :func:`distribution_matrix`)
remain as the reference forms, and the covariance builders for the
reference's Nelder-Mead surface.

The math reproduces the reference semantics (cites into
``/root/reference/tsdisagg/ts_disagg.py``) but the code is an independent
implementation:

* conversion (aggregation-constraint) matrix    — ts_disagg.py:24-81
* Denton / Denton-Cholette smoothing            — ts_disagg.py:155-176
* Chow-Lin AR(1) / Litterman random-walk GLS    — ts_disagg.py:100-152
* maximum-likelihood (rho, sigma^2) fit         — ts_disagg.py:426-448
* distribution step  y_hat = p + D(y - Cp)      — ts_disagg.py:96-97,460-464
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np

AGG_FUNCS = ("sum", "mean", "first", "last")
METHODS = ("denton", "denton-cholette", "chow-lin", "litterman")
REGRESSION_METHODS = ("chow-lin", "litterman")


# ---------------------------------------------------------------------------
# period labelling + conversion matrix
# ---------------------------------------------------------------------------

def period_labels(ts, low_family: str) -> np.ndarray:
    """Integer calendar-period label for each timestamp.

    The reference buckets high-frequency stamps with ``to_period('Y'|'Q')``
    (ts_disagg.py:60-66) — i.e. membership is by *calendar* year/quarter of
    the stamp regardless of any month anchor on the frequency code.  We encode
    the same label as an integer so the identical expression works in Spark
    SQL: ``year`` for yearly lows, ``4*year + (month-1)//3`` for quarterly.
    """
    import pandas as pd

    idx = pd.DatetimeIndex(ts)
    if low_family == "yearly":
        return idx.year.to_numpy()
    return (idx.year * 4 + (idx.month - 1) // 3).to_numpy()


def conversion_matrix(
    low_labels: np.ndarray,
    high_labels: np.ndarray,
    factor: int,
    agg_func: str,
) -> np.ndarray:
    """Aggregation-constraint matrix C in R^{n_low x n_high}.

    Row i encodes how high-frequency rows combine to reproduce low-freq
    observation i: weight 1 on members (``sum``), 1/factor (``mean``), or 1 on
    the first/last member (``first``/``last``).  Periods with a member count
    different from ``factor`` are *partial* and get an all-zero row so the
    caller can prune them (ts_disagg.py:24-42,68-79).

    Inputs are the integer labels from :func:`period_labels`; ``high_labels``
    must be in time order.
    """
    if agg_func not in AGG_FUNCS:
        raise ValueError(f"Invalid agg_func {agg_func!r}")

    n_low, n_high = len(low_labels), len(high_labels)
    C = np.zeros((n_low, n_high))
    weight = 1.0 / factor if agg_func == "mean" else 1.0

    for i, label in enumerate(low_labels):
        members = np.flatnonzero(high_labels == label)
        if members.size == 0 or members.size != factor:
            # absent or partial period -> stays all-zero
            continue
        if agg_func == "first":
            C[i, members[0]] = weight
        elif agg_func == "last":
            C[i, members[-1]] = weight
        else:
            C[i, members] = weight
    return C


# ---------------------------------------------------------------------------
# structural matrices
# ---------------------------------------------------------------------------

def difference_matrix(n: int, order: int = 1) -> np.ndarray:
    """h-th order differencing operator: (I - L)^h with L the lag matrix
    (ts_disagg.py:90-93)."""
    D1 = np.eye(n) - np.eye(n, k=-1)
    return np.linalg.matrix_power(D1, order)


def _proportional_rescale(delta: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Scale the difference operator columns by 1/(x_t * mean(x)) so squared
    *relative* deviations are penalized (ts_disagg.py:158,168)."""
    x = np.asarray(x, dtype=float).ravel()
    return delta * (1.0 / (x * x.mean()))[None, :]


def denton_covariance(
    n: int, x: np.ndarray, order: int = 1, criterion: str = "proportional"
) -> np.ndarray:
    """Sigma_D = (Delta' Delta)^{-1}, the implicit covariance that makes GLS
    smoothing minimize sum of squared h-th differences (ts_disagg.py:155-161)."""
    delta = difference_matrix(n, order)
    if criterion == "proportional":
        delta = _proportional_rescale(delta, x)
    return np.linalg.solve(delta.T @ delta, np.eye(n))


def denton_cholette_distribution(
    n: int,
    n_low: int,
    C: np.ndarray,
    x: np.ndarray,
    order: int = 1,
    criterion: str = "proportional",
) -> np.ndarray:
    """Cholette's boundary-corrected Denton weights (ts_disagg.py:164-176).

    Drops the first ``order`` rows of the difference operator (removing the
    spurious penalty on the pre-sample level) and solves the equality-
    constrained least squares through its KKT system; returns the n x n_low
    block mapping low-freq residuals onto the high-freq path.
    """
    delta = difference_matrix(n, order)[order:, :]
    if criterion == "proportional":
        delta = _proportional_rescale(delta, x)
    gram = delta.T @ delta
    kkt_lhs = np.block([[gram, C.T], [C, np.zeros((n_low, n_low))]])
    kkt_rhs = np.block([[gram, np.zeros((n, n_low))], [C, np.eye(n_low)]])
    solution = np.linalg.solve(kkt_lhs, kkt_rhs)
    return solution[:n, n:]


def _denton_least_norm(
    y: np.ndarray, x: np.ndarray, C: np.ndarray, method: str, order: int, criterion: str
) -> np.ndarray:
    """Denton / Denton-Cholette y_hat as one least-norm solve, without an
    n x n matrix.

    In the coordinates u = Delta^h ((y_hat - x) / d), with d = x mean(x) for
    ``proportional`` and 1 for ``additive``, the reference's penalty
    (ts_disagg.py:155-176) is ||u||^2 for Denton and ||u[h:]||^2 for
    Denton-Cholette, whose difference operator drops its first h rows.
    C y_hat = y reads M u = b with b = y - C x and M = C diag(d) Delta^{-h}:
    h reverse cumulative sums along each row of C diag(d).  With k = h for
    Cholette and 0 for Denton, a complete QR of M[:, :k] leaves u[:k] free
    and gives Q2, a basis of the complement of its column space; u[k:] is
    the least-norm solution of Q2' M[:, k:] u[k:] = Q2' b from a QR of that
    matrix's transpose, and u[:k] follows from the triangular factor.  One
    refinement step on y - C y_hat brings the constraint to rounding.
    O(h n n_low + n n_low^2) time; memory of the order of C.

    A zero indicator month under ``proportional`` has d = 0 and so
    y_hat = 0; a low period whose weighted row C diag(d) is all zero cannot
    meet its constraint and raises, as do h < 0 and Denton-Cholette with
    fewer low periods than h (u[:k] would not be determined).
    """
    n_low, n = C.shape
    if order < 0:
        raise ValueError(f"the differencing order h must be >= 0, got {order}")
    k = order if method == "denton-cholette" else 0
    if n_low < k:
        raise ValueError(
            f"denton-cholette with h = {order} needs at least {order} "
            f"low-frequency periods, got {n_low}"
        )
    d = x * x.mean() if criterion == "proportional" else np.ones(n)
    M = C * d
    empty = np.flatnonzero(~M.any(axis=1))
    if empty.size:
        raise ValueError(
            f"low-frequency periods {empty.tolist()} have an all-zero indicator, "
            "so the proportional criterion cannot distribute their values"
        )
    for _ in range(order):
        M = np.cumsum(M[:, ::-1], axis=1)[:, ::-1]
    M = np.ascontiguousarray(M)  # BLAS skips reversed-stride views
    Q, R = np.linalg.qr(M[:, :k], mode="complete")
    Qa, Ra = np.linalg.qr((Q[:, k:].T @ M[:, k:]).T)

    def distribute(b: np.ndarray) -> np.ndarray:
        tail = Qa @ np.linalg.solve(Ra.T, Q[:, k:].T @ b)
        u = np.concatenate([np.linalg.solve(R[:k], Q[:, :k].T @ (b - M[:, k:] @ tail)), tail])
        for _ in range(order):
            u = np.cumsum(u)
        return d * u

    y_hat = x + distribute(y - C @ x)
    return y_hat + distribute(y - C @ y_hat)


def chow_lin_covariance(rho: float, sigma2: float, n: int) -> np.ndarray:
    """Stationary AR(1) covariance: Sigma[i,j] = sigma2/(1-rho^2) * rho^|i-j|
    (ts_disagg.py:100-107)."""
    lags = np.abs(np.subtract.outer(np.arange(n), np.arange(n)))
    return (sigma2 / (1.0 - rho**2)) * rho**lags


def litterman_covariance(rho: float, sigma2: float, n: int) -> np.ndarray:
    """Random walk with AR(1) innovations:
    Sigma_L = sigma2 * (Delta' H' H Delta)^{-1}, H = I - rho L
    (ts_disagg.py:110-114)."""
    delta = difference_matrix(n, 1)
    H = np.eye(n) - rho * np.eye(n, k=-1)
    A = delta.T @ H.T @ H @ delta
    return sigma2 * np.linalg.solve(A, np.eye(n))


COVARIANCE_BUILDERS: dict[str, Callable[[float, float, int], np.ndarray]] = {
    "chow-lin": chow_lin_covariance,
    "litterman": litterman_covariance,
}


# ---------------------------------------------------------------------------
# GLS + maximum likelihood
# ---------------------------------------------------------------------------

@dataclass
class FitResult:
    """Minimal stand-in for ``scipy.optimize.OptimizeResult`` (scipy is not a
    dependency of this engine): the fitted point, objective value, and
    bookkeeping counters."""

    x: np.ndarray
    fun: float
    success: bool = True
    nit: int = 0
    nfev: int = 0
    message: str = "converged"
    extras: dict = field(default_factory=dict)


def gls_beta(Sigma: np.ndarray, y: np.ndarray, X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """GLS estimate on the aggregated model y = CX b + Cu:

        b = (X'C' (C Sigma C')^{-1} C X)^{-1} X'C' (C Sigma C')^{-1} y

    A single factorization of C Sigma C' serves both right-hand sides by
    stacking them into one multi-RHS solve (ts_disagg.py:117-131 reuses an LU
    the same way).
    """
    V = np.linalg.multi_dot([C, Sigma, C.T])
    CX = C @ X
    y2d = np.asarray(y, dtype=float).reshape(V.shape[0], -1)
    solved = np.linalg.solve(V, np.hstack([CX, y2d]))
    Vinv_CX, Vinv_y = solved[:, : CX.shape[1]], solved[:, CX.shape[1] :]
    beta = np.linalg.solve(CX.T @ Vinv_CX, CX.T @ Vinv_y)
    return beta.ravel() if np.ndim(y) == 1 else beta


def gaussian_loglik(n_low: int, V: np.ndarray, resid: np.ndarray) -> float:
    """Log-likelihood of the low-frequency residuals under N(0, V)
    (ts_disagg.py:84-87)."""
    _sign, logdet = np.linalg.slogdet(V)
    quad = resid.T @ np.linalg.solve(V, resid)
    return -0.5 * n_low * np.log(2.0 * np.pi) - 0.5 * (logdet + quad)


def negative_loglik(
    params: np.ndarray,
    y: np.ndarray,
    X: np.ndarray,
    C: np.ndarray,
    cov_builder: Callable[[float, float, int], np.ndarray],
) -> float:
    """ML objective over (rho, sigma2) (ts_disagg.py:134-152).

    Parity quirk reproduced deliberately: the reference rescales
    ``sigma2 <- (1 + rho) * sigma2`` before building Sigma — the author's
    admitted "pure magic" correction that changes the Chow-Lin scaling from
    sigma2/(1-rho^2) to sigma2/(1-rho) and makes results match R's
    ``tempdisagg`` (comment at ts_disagg.py:140-144).  Golden parity requires
    the identical objective surface, so we keep it.
    """
    rho, sigma2 = params
    sigma2 = (1.0 + rho) * sigma2
    n = X.shape[0]
    Sigma = cov_builder(rho, sigma2, n)
    beta = gls_beta(Sigma, y, X, C)
    resid = y - C @ (X @ beta)
    V = np.linalg.multi_dot([C, Sigma, C.T])
    return -gaussian_loglik(y.shape[0], V, resid)


#: rho search interval matching the reference's bounds (ts_disagg.py:438-439)
_RHO_LO, _RHO_HI = 1e-5, 1.0 - 1e-5


def _nelder_mead_minimize(
    f: Callable[[np.ndarray], float],
    x0: np.ndarray,
    lower: np.ndarray,
    upper: np.ndarray,
    xatol: float = 1e-4,
    fatol: float = 1e-4,
    max_iter: int | None = None,
) -> tuple[np.ndarray, float, int, int]:
    """Bounded Nelder-Mead simplex (Nelder & Mead 1965 — public algorithm;
    bounds handled by clipping candidate points into the box, the same
    strategy scipy documents for its bounded Nelder-Mead).  Returns
    ``(x_min, f_min, nit, nfev)`` with scipy-compatible counter semantics:
    ``nit`` counts simplex iterations, ``nfev`` objective evaluations.
    """
    n = len(x0)
    if max_iter is None:
        max_iter = 200 * n

    def clip(p: np.ndarray) -> np.ndarray:
        return np.clip(p, lower, upper)

    def initial_simplex(center: np.ndarray) -> np.ndarray:
        # scipy-style: 5% relative perturbation per coordinate; when the
        # perturbed vertex would clip onto a bound, reflect it to the
        # interior instead so the simplex never starts degenerate.
        nonzdelt, zdelt = 0.05, 0.00025
        sim = [clip(np.asarray(center, dtype=float))]
        for i in range(n):
            p = sim[0].copy()
            step = p[i] * nonzdelt if p[i] != 0.0 else zdelt
            p[i] = p[i] + step if p[i] + step <= upper[i] else p[i] - step
            sim.append(clip(p))
        return np.array(sim)

    refl, expa, contr, shrk = 1.0, 2.0, 0.5, 0.5
    nit = 0
    nfev = 0

    def nm_pass(center: np.ndarray) -> tuple[np.ndarray, float]:
        nonlocal nit, nfev
        sim = initial_simplex(center)
        fs = np.array([f(p) for p in sim])
        nfev += n + 1
        while nit < max_iter:
            order = np.argsort(fs, kind="stable")
            sim, fs = sim[order], fs[order]
            if (
                np.max(np.abs(sim[1:] - sim[0])) <= xatol
                and np.max(np.abs(fs[1:] - fs[0])) <= fatol
            ):
                break
            nit += 1
            centroid = sim[:-1].mean(axis=0)
            xr = clip(centroid + refl * (centroid - sim[-1]))
            fr = f(xr)
            nfev += 1
            if fr < fs[0]:
                xe = clip(centroid + expa * refl * (centroid - sim[-1]))
                fe = f(xe)
                nfev += 1
                sim[-1], fs[-1] = (xe, fe) if fe < fr else (xr, fr)
            elif fr < fs[-2]:
                sim[-1], fs[-1] = xr, fr
            else:
                if fr < fs[-1]:  # outside contraction
                    xc = clip(centroid + contr * refl * (centroid - sim[-1]))
                    fc = f(xc)
                    nfev += 1
                    shrink = fc > fr
                else:  # inside contraction
                    xc = clip(centroid - contr * (centroid - sim[-1]))
                    fc = f(xc)
                    nfev += 1
                    shrink = fc >= fs[-1]
                if shrink:
                    for i in range(1, n + 1):
                        sim[i] = clip(sim[0] + shrk * (sim[i] - sim[0]))
                        fs[i] = f(sim[i])
                        nfev += 1
                else:
                    sim[-1], fs[-1] = xc, fc
        order = np.argsort(fs, kind="stable")
        return sim[order[0]], fs[order[0]]

    # Restart loop: a clipped simplex can degenerate against a bound mid-way
    # along a curved valley (observed on the Chow-Lin ML surface, where the
    # path from (0.8, 0.8) rides rho onto its upper bound before sigma2 has
    # grown).  Re-seeding a fresh simplex at the incumbent (with inward
    # reflection at the bounds) restores the lost dimension; stop when a
    # restart no longer improves.  Classic Nelder-Mead robustification.
    best_x, best_f = nm_pass(np.asarray(x0, dtype=float))
    for _ in range(10):
        if nit >= max_iter:
            break
        x2, f2 = nm_pass(best_x)
        if f2 >= best_f - fatol:
            if f2 < best_f:
                best_x, best_f = x2, f2
            break
        best_x, best_f = x2, f2
    return best_x, best_f, nit, nfev


# ---------------------------------------------------------------------------
# closed-form V0 = C Sigma0(rho) C' for a whole rho grid (no n x n matrix)
#
# Every period constraint the relational layer builds has contiguous,
# non-overlapping row support [s_a, e_a] with weights w_a, so V0 follows
# from per-row geometric sums instead of an n x n Sigma0 per rho:
#
#   * Chow-Lin, Sigma0 = rho^|i-j| / (1-rho^2):  for a < b
#       V0[a,b] = A_a rho^(s_b - e_a) B_b / (1-rho^2),
#       A_a = sum_r w_ar rho^(e_a - s_a - r),  B_b = sum_r w_br rho^r,
#     and each diagonal entry is one m x m sum over its own row.
#   * Litterman, Sigma0 = Delta^{-1} H^{-1} H^{-T} Delta^{-T} (H = I - rho L):
#       V0 = M M',  M = (C Delta^{-1}) H^{-1}.
#     C Delta^{-1} is a reverse cumsum of each row (its total weight W_a
#     before s_a), and H^{-1} a discounted reverse cumsum, so before its
#     row's block M[a, j] = W_a g(s_a - j) + rho^(s_a - j) M[a, s_a] with
#     g(k) = sum_{i<k} rho^i: all terms positive, stable up to rho -> 1.
#
# The post-fit step needs only Sigma0 (C' z) for one vector, which both
# families give through O(n) first-order recursions (_SIGMA_TIMES), and the
# band precision (_apply_precision_band) for the standard errors.
# ---------------------------------------------------------------------------

def _v0_blocks(C: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(lo, hi, W)``: each constraint row's first and last column and its
    weights, zero-padded to the longest row (``W[a, r] = C[a, lo_a + r]``).
    ``ValueError`` unless rows are contiguous and do not overlap."""
    lo, hi = _constraint_blocks(C)
    if np.any(lo[1:] <= hi[:-1]):
        raise ValueError("constraint rows overlap")
    lens = hi - lo + 1
    rows = np.repeat(np.arange(len(lo)), lens)
    cols = _block_col_idx(lo, lens)
    W = np.zeros((len(lo), int(lens.max())))
    W[rows, cols - lo[rows]] = C[rows, cols]
    return lo, hi, W


def _chow_lin_v0(rho: np.ndarray, blocks: tuple, n: int) -> np.ndarray:
    """(G, n_low, n_low) Chow-Lin V0 stack (see the section comment)."""
    lo, hi, W = blocks
    n_low, m = W.shape
    pw = rho[:, None] ** np.arange(n)[None, :]                  # (G, n)
    r = np.arange(m)
    to_last = np.maximum((hi - lo)[:, None] - r[None, :], 0)    # e_a - s_a - r
    A = np.einsum("ar,gar->ga", W, pw[:, to_last])
    B = np.einsum("ar,gr->ga", W, pw[:, :m])
    gap = np.maximum(lo[None, :] - hi[:, None], 0)              # s_b - e_a
    V = np.triu(A[:, :, None] * B[:, None, :] * pw[:, gap], 1)
    V += V.transpose(0, 2, 1)
    diag = np.arange(n_low)
    lags = np.abs(r[:, None] - r[None, :])
    V[:, diag, diag] = np.einsum("ar,grs,as->ga", W, pw[:, lags], W)
    return V / (1.0 - rho**2)[:, None, None]


def _litterman_v0(rho: np.ndarray, blocks: tuple, n: int) -> np.ndarray:
    """(G, n_low, n_low) Litterman V0 stack = M M' (see the section
    comment), from prefix sums instead of the (G, n_low, n) factor.

    Row a of M is zero after e_a, equals ``in_row`` on its block, and before
    it is W_a g(k) + mu_a rho^k at k = s_a - j.  With g(k + q) = g(q) +
    rho^q g(k), every entry M[b, j] with j <= e_a < s_b splits as
    W_b g(kap) + rho^kap (W_b g(q) + mu_b rho^q), kap = s_b - e_a - 1 and
    q = e_a + 1 - j, so V0[a, b] needs only three per-row sums over j <= e_a
    (t1, t2, t3), and those follow from prefix sums of g, rho^k and their
    products."""
    lo, hi, W = blocks
    n_low, m = W.shape
    G = len(rho)
    pw = rho[:, None] ** np.arange(n + 1)[None, :]              # rho^k, (G, n+1)
    g = np.concatenate([np.zeros((G, 1)), np.cumsum(pw[:, :n], axis=1)], axis=1)

    def prefix(terms: np.ndarray) -> np.ndarray:                # sum over k = 1..K
        return np.concatenate([np.zeros((G, 1)), np.cumsum(terms[:, 1:], axis=1)], axis=1)

    sg, sp = prefix(g)[:, lo], prefix(pw)[:, lo]
    sgg, sgp, spp = (prefix(t)[:, lo] for t in (g * g, g * pw, pw * pw))
    K = np.cumsum(W[:, ::-1], axis=1)[:, ::-1]                  # C Delta^{-1} in-row
    r = np.arange(m)
    upper = np.triu(pw[:, np.abs(r[None, :] - r[:, None])])    # rho^(s-r), s >= r
    in_row = np.einsum("grs,as->gar", upper, K)                 # (G, n_low, m)
    tot, mu = K[:, 0], in_row[:, :, 0]
    lens = hi - lo + 1
    q = np.maximum(lens[:, None] - r[None, :], 0)               # e_a + 1 - j on the block
    before1 = tot * sg + mu * sp
    t1 = before1 + in_row.sum(axis=2)
    t2 = (g[:, lens] * before1 + pw[:, lens] * (tot * sgg + mu * sgp)
          + np.einsum("gar,gar->ga", in_row, g[:, q]))
    t3 = pw[:, lens] * (tot * sgp + mu * spp) + np.einsum("gar,gar->ga", in_row, pw[:, q])
    kap = np.maximum(lo[None, :] - hi[:, None] - 1, 0)          # s_b - e_a - 1
    V = np.triu(
        tot[None, None, :] * g[:, kap] * t1[:, :, None]
        + pw[:, kap] * (tot[None, None, :] * t2[:, :, None] + mu[:, None, :] * t3[:, :, None]),
        1,
    )
    V += V.transpose(0, 2, 1)
    diag = np.arange(n_low)
    V[:, diag, diag] = (tot**2 * sgg + 2.0 * tot * mu * sgp + mu**2 * spp
                        + np.einsum("gar,gar->ga", in_row, in_row))
    return V


def _ar_filter(v: np.ndarray, rho: float, reverse: bool = False) -> np.ndarray:
    """H^{-1} v (``u_t = v_t + rho u_{t-1}``), or H^{-T} v when ``reverse``."""
    vals = v[::-1] if reverse else v
    out, acc = [], 0.0
    for x in vals.tolist():
        acc = x + rho * acc
        out.append(acc)
    out = np.array(out)
    return out[::-1] if reverse else out


def _chow_lin_sigma_times(rho: float, v: np.ndarray) -> np.ndarray:
    """Sigma0 v for the unit AR(1) covariance: forward plus backward
    discounted sums (the diagonal counted once)."""
    return (_ar_filter(v, rho) + _ar_filter(v, rho, reverse=True) - v) / (1.0 - rho**2)


def _litterman_sigma_times(rho: float, v: np.ndarray) -> np.ndarray:
    """Sigma0 v = Delta^{-1} H^{-1} H^{-T} Delta^{-T} v."""
    u = _ar_filter(np.cumsum(v[::-1])[::-1], rho, reverse=True)
    return np.cumsum(_ar_filter(u, rho))


_V0_FORMS = {"chow-lin": _chow_lin_v0, "litterman": _litterman_v0}
_SIGMA_TIMES = {"chow-lin": _chow_lin_sigma_times, "litterman": _litterman_sigma_times}


def _v0_grid_fn(
    C: np.ndarray, cov_builder: Callable[[float, float, int], np.ndarray]
) -> Callable[[np.ndarray], np.ndarray]:
    """``grid -> V0 stack`` for one of the two ``COVARIANCE_BUILDERS``: the
    closed form on block-structured C; otherwise C Sigma0 C' per rho from
    the builder (hand-made constraint matrices)."""
    n = C.shape[1]
    try:
        blocks = _v0_blocks(C)
    except ValueError:
        return lambda grid: np.stack([C @ cov_builder(r, 1.0, n) @ C.T for r in grid])
    v0_form = _V0_FORMS[next(m for m, b in COVARIANCE_BUILDERS.items() if b is cov_builder)]
    return lambda grid: v0_form(np.asarray(grid, dtype=float), blocks, n)


def _concentrate(
    y: np.ndarray,
    CX: np.ndarray,
    Vinv_CX: np.ndarray,
    Vinv_y: np.ndarray,
    logdet: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Concentrated GLS over a rho grid from V^{-1}[CX, y] (``(G, n_low,
    k)`` and ``(G, n_low)``) and log det V of the unit-scale V = C Sigma0 C':
    ``(nll, s_star, beta, z)`` per grid point, z = V^{-1}(y - CX beta).
    sigma2 is a pure scale of Sigma, so the likelihood profiles it out at
    s_star = resid' z / n_low; beta and z do not depend on it."""
    n_low = y.shape[0]
    A = np.einsum("ik,gil->gkl", CX, Vinv_CX)
    b = np.einsum("ik,gi->gk", CX, Vinv_y)
    beta = np.linalg.solve(A, b[..., None])[..., 0]
    resid = y[None, :] - beta @ CX.T
    z = Vinv_y - np.einsum("gik,gk->gi", Vinv_CX, beta)
    s_star = np.maximum(np.einsum("gi,gi->g", resid, z) / n_low, 1e-300)
    nll = 0.5 * (n_low * np.log(2.0 * np.pi) + n_low * np.log(s_star) + logdet + n_low)
    return nll, s_star, beta, z


def _scan(fn: Callable[[np.ndarray], np.ndarray], grid: np.ndarray, member_bytes: int,
          budget: int) -> np.ndarray:
    """``fn`` over ``grid`` in chunks whose working set fits ``budget``."""
    chunk = max(1, budget // max(member_bytes, 1))
    return np.concatenate([fn(grid[s : s + chunk]) for s in range(0, len(grid), chunk)])


#: working-set budget of one chunk of the closed-form profile scan
_V0_SCAN_BYTES = 256 << 20


def _profile_fit(
    nll_grid: Callable[[np.ndarray], np.ndarray],
    evaluate: Callable[[float], tuple],
) -> tuple[float, tuple, int]:
    """The two-level profile-likelihood search both regression back ends
    share.

    A coarse 41-point scan over (_RHO_LO, _RHO_HI) guards against
    non-convex profiles; a 33-point scan inside the winning bracket plus one
    parabolic step refines it (y_hat is stationary in rho at the optimum, so
    the ~1e-6 rho accuracy is far below what the distribution step can
    observe).  ``evaluate(rho)`` returns a tuple whose first item is the
    NLL; if the parabola overshoots a non-quadratic kink the best fine point
    is used instead.  Returns ``(rho_star, evaluate(rho_star), nfev)``."""
    grid = np.linspace(_RHO_LO, _RHO_HI, 41)
    best = int(np.argmin(nll_grid(grid)))
    fine = np.linspace(grid[max(best - 1, 0)], grid[min(best + 1, len(grid) - 1)], 33)
    fvals = nll_grid(fine)
    j = int(np.argmin(fvals))
    rho_star = float(fine[j])
    nfev = len(grid) + len(fine) + 1
    if 0 < j < len(fine) - 1:
        f0, f1, f2 = fvals[j - 1], fvals[j], fvals[j + 1]
        denom = f0 - 2.0 * f1 + f2
        if denom > 0:  # proper local parabola: vertex for equispaced points
            step = 0.5 * (fine[1] - fine[0]) * (f0 - f2) / denom
            rho_star = float(np.clip(fine[j] + step, fine[j - 1], fine[j + 1]))
    out = evaluate(rho_star)
    if out[0] > fvals[j]:
        rho_star = float(fine[j])
        out = evaluate(rho_star)
        nfev += 1
    return rho_star, out, nfev


def profile_negative_loglik(
    rho: float,
    y: np.ndarray,
    X: np.ndarray,
    C: np.ndarray,
    cov_builder: Callable[[float, float, int], np.ndarray],
) -> tuple[float, float]:
    """Concentrated ML objective at one rho, from a dense Sigma0 (the
    reference form of what :func:`fit_rho_sigma` scans in closed form):
    sigma2 enters the covariance as a pure scale (Sigma = s * Sigma0(rho)
    for both Chow-Lin and Litterman), so the Gaussian likelihood profiles it
    out exactly at s* = resid' V0^{-1} resid / n_low.

    Returns ``(nll_at_optimal_scale, s_star)`` where ``s_star`` is the scale
    *after* the reference's (1+rho) rescale (see :func:`negative_loglik`);
    i.e. the reported sigma2 is ``s_star / (1 + rho)``.
    """
    n = X.shape[0]
    n_low = y.shape[0]
    Sigma0 = cov_builder(rho, 1.0, n)
    beta = gls_beta(Sigma0, y, X, C)
    resid = y - C @ (X @ beta)
    V0 = np.linalg.multi_dot([C, Sigma0, C.T])
    _sign, logdet0 = np.linalg.slogdet(V0)
    q0 = float(resid.T @ np.linalg.solve(V0, resid))
    s_star = max(q0 / n_low, 1e-300)
    nll = 0.5 * (n_low * np.log(2.0 * np.pi) + n_low * np.log(s_star) + logdet0 + n_low)
    return nll, s_star


def distribution_matrix(Sigma: np.ndarray, C: np.ndarray) -> np.ndarray:
    """D = Sigma C' (C Sigma C')^{-1} — maps low-frequency residuals onto the
    high-frequency path (ts_disagg.py:96-97)."""
    V = np.linalg.multi_dot([C, Sigma, C.T])
    return np.linalg.solve(V, C @ Sigma).T


def beta_std_errors(Sigma: np.ndarray, X: np.ndarray) -> np.ndarray:
    """sqrt(diag((X' Sigma^{-1} X)^{-1})) (ts_disagg.py:452-455)."""
    Sinv_X = np.linalg.solve(Sigma, X)
    return np.sqrt(np.diagonal(np.linalg.inv(X.T @ Sinv_X)))


# ---------------------------------------------------------------------------
# the banded KKT of the long regression fits (SURVEY.md §7 M8 extension)
#
# Spark parallelism is across SERIES; a single long series still hits the
# closed form's O(n_low^3) per rho.  The GLS distribution step is the
# equality-constrained least squares
#
#     min w' P w   s.t.   C w = b        KKT: [[P, C'], [C, 0]] [w; mu] = [0; b]
#
# with P the AR(1) / random-walk precision Sigma0^{-1} of Chow-Lin and
# Litterman.  The KKT is BANDED once each constraint row is interleaved
# after its period's last member: P couples x_t only with x_{t +/- e} for
# its e < n_diags diagonals, and each constraint row touches one period's
# members.  Bandwidth ~ factor + n_diags, so one solve costs O(n * b^2) time
# and O(n * b) memory — a 100k-point series solves in seconds where the
# dense path would need 10^15 flops and 80 GB for Sigma.  One index skeleton
# (_gls_kkt_indices), one assembly (_kkt_solve) and one grid LU
# (_banded_lu_solve_grid_t) serve both methods.
# ---------------------------------------------------------------------------

def _constraint_blocks(C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row contiguous support ``[lo_i, hi_i]`` of the constraint matrix
    — ``ValueError`` for an empty or non-contiguous row, so callers can fall
    back to the closed form."""
    n_low = C.shape[0]
    lo = np.full(n_low, -1, dtype=int)
    hi = np.full(n_low, -1, dtype=int)
    for i in range(n_low):
        nz = np.flatnonzero(C[i])
        if nz.size == 0:
            raise ValueError(f"constraint row {i} is empty")
        lo[i], hi[i] = nz[0], nz[-1]
        if not np.all(np.diff(nz) == 1):
            raise ValueError(f"constraint row {i} support is not contiguous")
    return lo, hi


def _interleave_positions(
    n: int, hi: np.ndarray
) -> tuple[np.ndarray, np.ndarray, int]:
    """Interleaved KKT ordering: x_t, then every lambda_i whose period ends
    at t — the permutation that makes the KKT system banded.  ``hi`` must
    be strictly increasing."""
    if np.any(hi >= n):
        raise ValueError("constraint end column beyond the high-freq axis")
    pos = np.arange(n) + np.searchsorted(hi, np.arange(n))  # x_t after every lambda_i, hi_i < t
    lpos = hi + np.arange(1, hi.shape[0] + 1)               # lambda_i right after x_{hi_i}
    return pos, lpos, n + hi.shape[0]


def _banded_lu_solve_grid_t(
    abt: np.ndarray, kl: int, ku: int, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Solve a stack of ``G`` banded systems ``A x = b`` (a rho grid of a
    profile-likelihood scan, or ``G = 1``) by Gaussian elimination with
    partial pivoting, data-parallel over the stack so the per-column Python
    overhead is paid once; ``b`` is multi-RHS, (G, n, m).  Pure NumPy
    (scipy is not a dependency); the column loop costs O(n * (kl + ku) * kl)
    scalar work per system — linear in n, which is the whole point.
    Returns ``(x, logabsdet)``: the (G, n, m) solutions and each system's
    log|det| (sum of log|pivot|).

    Band storage is TRANSPOSED, ``abt`` (G, n, W) with
    ``abt[g, c, kl + ku + i - c] = A[i, c]`` (one system-column per
    C-contiguous row).  In this layout the elimination's parallelogram
    update, multiplier row, and back-substitution row are all REGULAR
    STRIDED VIEWS of the flat buffer (element (i, c) lives at flat
    ``c*(W-1) + kl + ku + i``, so fixed-i-varying-c is a stride-(W-1)
    walk) — one fused vector op each, no per-column index-array
    gather/scatter.  The per-member pivot row swap still needs fancy
    indexing but only fires at the (rare) columns where a member pivots.
    ``abt`` and ``b`` are modified in place.
    """
    from numpy.lib.stride_tricks import as_strided

    G, n, W = abt.shape
    if not abt.flags.c_contiguous:
        raise ValueError("band storage must be C-contiguous")  # reshape would copy
    if W != 2 * kl + ku + 1:
        raise ValueError(f"band storage has {W} rows, expected {2 * kl + ku + 1}")
    diag = kl + ku
    Fv = abt.reshape(G, n * W)
    sG, sE = Fv.strides
    sC = (W - 1) * sE
    gi = np.arange(G)
    cbase = np.arange(n + kl + ku)
    pivs = np.empty((G, n))                # log|det| summed once at the end
    for j in range(n):
        nm = min(kl, n - 1 - j)
        col = abt[:, j, diag : diag + nm + 1]
        pj = np.argmax(np.abs(col), axis=1)
        jend = min(j + ku + kl, n - 1)
        if pj.any():
            # swap system-rows j and j+pj[g] over columns j..jend: flat
            # positions c*(W-1) + diag + j (+ pj) — per-member offsets, so
            # fancy indexing, but only at pivoting columns
            idx = cbase[j : jend + 1] * (W - 1) + (diag + j)
            idx2 = idx[None, :] + pj[:, None]
            r1 = Fv[:, idx].copy()
            Fv[:, idx] = Fv[gi[:, None], idx2]
            Fv[gi[:, None], idx2] = r1
            tb = b[:, j, :].copy()
            b[:, j, :] = b[gi, j + pj, :]
            b[gi, j + pj, :] = tb
        piv = abt[:, j, diag]
        pivs[:, j] = piv
        L2 = jend - j
        if nm:
            m = abt[:, j, diag + 1 : diag + nm + 1] / piv[:, None]
            if L2:
                off0 = (j + 1) * (W - 1) + diag + j
                rowj = as_strided(Fv[:, off0:], shape=(G, L2), strides=(sG, sC))
                blk = as_strided(
                    Fv[:, off0 + 1 :], shape=(G, L2, nm), strides=(sG, sC, sE)
                )
                blk -= m[:, None, :] * rowj[:, :, None]
            b[:, j + 1 : j + nm + 1, :] -= m[:, :, None] * b[:, j, None, :]
    if not np.all(pivs):
        raise np.linalg.LinAlgError("singular banded matrix in grid solve")
    logdet = np.log(np.abs(pivs)).sum(axis=1)
    x = np.empty_like(b)
    for i in range(n - 1, -1, -1):
        cend = min(i + ku + kl, n - 1)
        L = cend - i
        if L:
            off = (i + 1) * (W - 1) + diag + i
            rowi = as_strided(Fv[:, off:], shape=(G, L), strides=(sG, sC))
            s = np.einsum("gl,glm->gm", rowi, x[:, i + 1 : cend + 1, :])
            x[:, i, :] = (b[:, i, :] - s) / abt[:, i, diag][:, None]
        else:
            x[:, i, :] = b[:, i, :] / abt[:, i, diag][:, None]
    return x, logdet


def _gls_kkt_indices(C, n: int | None = None, n_diags: int = 2) -> dict:
    """Skeleton of the interleaved KKT [[P, C'], [C, 0]] (see the section
    comment): constraint blocks, interleaved ordering, flattened scatter
    indices, and bandwidth.  Built once per series, reused by every solve.
    ``n_diags`` is the band width of P: 2 (tridiagonal) for Chow-Lin's
    AR(1) precision, 3 (pentadiagonal) for Litterman's.

    ``C`` is either the dense constraint matrix, or — for series long
    enough that a dense (n_low, n) would itself be the memory wall, e.g.
    8000 x 96000 = 6 GB — the block form ``(lo, hi, vals)`` with per-row
    contiguous support ``[lo_i, hi_i]`` and ``vals`` the concatenated
    nonzero coefficients (requires explicit ``n``)."""
    dense = isinstance(C, np.ndarray)
    if dense:
        n = C.shape[1]
        lo, hi = _constraint_blocks(C)
    else:
        lo, hi, cvals = C
        if n is None:
            raise ValueError("block-form constraints need an explicit n")
        lo, hi = np.asarray(lo, dtype=int), np.asarray(hi, dtype=int)
        if lo[0] < 0 or np.any(hi < lo):
            raise ValueError("constraint block support out of range")
    if np.any(np.diff(hi) <= 0):
        raise ValueError("constraint rows must end at strictly increasing columns")
    n_low = lo.shape[0]
    lens = hi - lo + 1
    row_idx = np.repeat(np.arange(n_low), lens)
    col_idx = _block_col_idx(lo, lens)
    cvals = C[row_idx, col_idx].astype(float) if dense else np.asarray(cvals, dtype=float)
    if cvals.shape[0] != col_idx.shape[0]:
        raise ValueError("vals length must equal total block support")
    pos, lpos, N = _interleave_positions(n, hi)
    # scatter targets: the banded precision's diagonals (x_i, x_{i+e}) for
    # e = 0..n_diags-1, then C entries (x_col, lambda_row) — lambda sits
    # after its period's last member, so lpos[row] > pos[col] always:
    # (a, b) = (pos[col], lpos[row])
    ra = np.concatenate(
        [pos[: n - e] for e in range(n_diags)] + [pos[col_idx]]
    )
    rb = np.concatenate(
        [pos[e:] for e in range(n_diags)] + [lpos[row_idx]]
    )
    bw = int(np.max(rb - ra))
    return {
        "n_low": n_low, "N": N, "pos": pos, "lpos": lpos,
        "ra": ra, "rb": rb, "cvals": cvals, "bw": bw,
        "row_idx": row_idx, "col_idx": col_idx,
    }


def _block_col_idx(lo: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(lo_i, lo_i + lens_i)`` per constraint block."""
    if lens.sum() == 0:
        return np.empty(0, dtype=int)
    step = np.ones(int(lens.sum()), dtype=int)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    # +1 within a block; at each block start, jump from the previous block's
    # last column to this block's first
    step[starts[1:]] = lo[1:] - (lo[:-1] + lens[:-1] - 1)
    step[0] = lo[0] + 1  # cumsum yields lo[0] + 1 - 1 = lo[0] at position 0
    return np.cumsum(step) - 1


def _kkt_solve(
    band: np.ndarray, skel: dict, B_low: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Assemble + solve the interleaved KKT [[P, C'], [C, 0]] [w; mu] =
    [0; B_low] for a stack of G band precisions P, one per rho of a grid.
    ``band`` (G, .) holds P's diagonals e = 0..n_diags-1 concatenated in
    e-order (the layout of the skeleton's scatter indices); ``B_low``
    (n_low, m) sits on the lambda rows.

    Returns ``(mu, w, logdet)``: the lambda rows (G, n_low, m), the x rows
    (G, n, m) — w minimizes w'Pw subject to C w = B_low — and log|det KKT|
    per member: mu = -(C P^{-1} C')^{-1} B_low and
    w = P^{-1} C' (C P^{-1} C')^{-1} B_low.
    """
    N, pos, lpos = skel["N"], skel["pos"], skel["lpos"]
    ra, rb, cvals, bw = skel["ra"], skel["rb"], skel["cvals"], skel["bw"]
    kl = ku = bw
    diag = kl + ku
    G = band.shape[0]
    vv = np.concatenate([band, np.broadcast_to(cvals, (G, cvals.shape[0]))], axis=1)
    # assemble straight into the transposed layout the strided solver wants
    # (abt[g, c, diag + i - c] = A[i, c]); the skeleton has no duplicate
    # (a, b) pairs, so fancy += is a plain scatter
    abt = np.zeros((G, N, 2 * kl + ku + 1))
    abt[:, rb, diag + ra - rb] += vv
    off = ra != rb
    abt[:, ra[off], diag + rb[off] - ra[off]] += vv[:, off]

    B = np.zeros((G, N, B_low.shape[1]))
    B[:, lpos, :] = B_low[None, :, :]
    sol, logdet = _banded_lu_solve_grid_t(abt, kl, ku, B)
    return sol[:, lpos, :], sol[:, pos, :], logdet


# ---------------------------------------------------------------------------
# banded Chow-Lin / Litterman precisions (SURVEY.md §4 scale path: the AR(1)
# covariance has a closed-form TRIDIAGONAL inverse, Litterman's a
# pentadiagonal one, so the whole GLS fit — profile likelihood included —
# runs through the same _kkt_solve as the Denton family, O(n b^2) per rho,
# never materializing Sigma)
#
# Identities used (M = unit-sigma2 covariance, P = M^{-1} its band precision):
#   * Chow-Lin: M^{-1} = tridiag(diag=[1, 1+rho^2, ..., 1+rho^2, 1], off=-rho)
#   * [[M^{-1}, C'], [C, 0]] [w; mu] = [0; b]  =>  mu = -(C M C')^{-1} b
#     and w = M C' (C M C')^{-1} b — one banded solve yields BOTH the GLS
#     normal-equation pieces (mu rows) and the distribution step (w rows).
#   * log det(C M C') = log|det KKT| - log det M^{-1},
#     log det M^{-1} = log(1 - rho^2) for the AR(1) precision, 0 for
#     Litterman's (unit-triangular factors).
# ---------------------------------------------------------------------------

def _gram_band_chow_lin(rho: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Stacked band diagonals of Chow-Lin's AR(1) precision M^{-1} =
    tridiag([1, 1+rho^2, ..., 1], -rho) for every rho, concatenated in
    e-order, plus log det M^{-1} = log(1 - rho^2) per member."""
    G = len(rho)
    d0 = np.ones((G, n))
    d0[:, 1:-1] = 1.0 + rho[:, None] ** 2
    vv = np.concatenate(
        [d0, np.broadcast_to(-rho[:, None], (G, n - 1))], axis=1
    )
    return vv, np.log(1.0 - rho**2)


def _gram_band_litterman(rho: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Stacked band diagonals of Litterman's precision Delta' H' H Delta
    (H = I - rho L, Delta = I - L): B = H Delta = I - (1+rho) L + rho L^2
    has rows [1, -(1+rho), rho], so the Gram is PENTADIAGONAL with

        g0 = 1 + (1+rho)^2 + rho^2   (edge-truncated at the last two rows)
        g1 = -(1+rho)^2              (last entry -(1+rho))
        g2 = rho

    Both Delta and H are unit lower-triangular, so det(precision) = 1 and
    the KKT log-det correction is ZERO per member."""
    G = len(rho)
    r = rho[:, None]
    g0 = np.broadcast_to(1.0 + (1.0 + r) ** 2 + r**2, (G, n)).copy()
    if n >= 2:
        g0[:, -2] = 1.0 + (1.0 + rho) ** 2
    g0[:, -1] = 1.0
    g1 = np.broadcast_to(-((1.0 + r) ** 2), (G, max(n - 1, 0))).copy()
    if n >= 2:
        g1[:, -1] = -(1.0 + rho)
    g2 = np.broadcast_to(r, (G, max(n - 2, 0)))
    return np.concatenate([g0, g1, g2], axis=1), np.zeros(G)


_GRAM_BANDS = {"chow-lin": (_gram_band_chow_lin, 2), "litterman": (_gram_band_litterman, 3)}


#: memory budget for one banded profile-scan pass; the grid chunk adapts to
#: it.  The wall-clock cost of the scan is dominated by the PER-COLUMN
#: Python overhead of the elimination loop, paid once per pass — so the
#: fewer passes the better, as long as the (chunk, 3bw+1, N) stack fits.
_BANDED_SCAN_BYTES = 2 << 30


def _banded_CX(X: np.ndarray, C, skel: dict) -> np.ndarray:
    """C @ X for dense or block-form constraints."""
    if isinstance(C, np.ndarray):
        return C @ X
    CX = np.zeros((skel["n_low"], X.shape[1]))
    np.add.at(CX, skel["row_idx"], skel["cvals"][:, None] * X[skel["col_idx"]])
    return CX


def _apply_precision_band(rho: float, X: np.ndarray, reg_method: str) -> np.ndarray:
    """M^{-1} @ X through the band diagonals (no dense precision)."""
    gram_fn, n_diags = _GRAM_BANDS[reg_method]
    n = X.shape[0]
    vv, _ = gram_fn(np.array([rho]), n)
    out = np.zeros_like(X, dtype=float)
    start = 0
    for e in range(n_diags):
        g = vv[0, start : start + n - e]
        start += n - e
        if e == 0:
            out += g[:, None] * X
        else:
            out[: n - e] += g[:, None] * X[e:]
            out[e:] += g[:, None] * X[: n - e]
    return out


def _std_errors(rho: float, sigma2: float, X: np.ndarray, reg_method: str) -> np.ndarray:
    """sqrt(diag((X' Sigma^{-1} X)^{-1})) with Sigma = sigma2 * Sigma0(rho),
    through the band precision (ts_disagg.py:452-455).  sigma2 is applied
    last, so an exact fit (sigma2 at the profile's 1e-300 floor) gives tiny
    standard errors instead of overflowing."""
    xtsx0 = X.T @ _apply_precision_band(rho, X, reg_method)
    return np.sqrt(np.diagonal(np.linalg.inv(xtsx0)) * sigma2)


# ---------------------------------------------------------------------------
# the regression fit driver: one fit for Chow-Lin and Litterman over two
# back ends that differ only in where V^{-1} [CX, y] and log det V come
# from (V = C Sigma0 C' at unit scale): the closed-form V0 stack, or the
# banded KKT
# ---------------------------------------------------------------------------

_PROFILE_OPTIMIZERS = ("brent-profile", "profile")
_SIMPLEX_OPTIMIZERS = ("nelder-mead", "powell", "l-bfgs-b")


def _regression_backend(
    y: np.ndarray, X: np.ndarray, C, method: str, banded: bool
) -> tuple[Callable[[np.ndarray], np.ndarray], Callable[[float], tuple]]:
    """``(scan, evaluate)`` of the concentrated GLS fit of ``method``:
    ``scan(grid)`` is the profile NLL over a rho grid, ``evaluate(rho)`` is
    ``(nll, s_star, beta, y_hat)`` at one rho.

    ``banded=False`` takes V^{-1} [CX, y] from the closed-form V0 stack and
    distributes through Sigma0 C' z by the O(n) recursions; ``banded=True``
    takes it from the banded KKT, whose w rows Sigma0 C' V^{-1} [CX, y] give
    y_hat by linearity.  ``C`` may be in block form only when banded."""
    y = np.asarray(y, dtype=float)
    n, k = X.shape
    if banded:
        gram_fn, n_diags = _GRAM_BANDS[method]
        skel = _gls_kkt_indices(C, n=n, n_diags=n_diags)
        CX = _banded_CX(X, C, skel)
        B_low = np.column_stack([CX, y])

        def solve(grid: np.ndarray) -> tuple:
            band, logdet_prec = gram_fn(grid, n)
            mu, w, logdet_kkt = _kkt_solve(band, skel, B_low)
            return -mu, logdet_kkt - logdet_prec, w

        def distribute(rho: float, beta: np.ndarray, z: np.ndarray, w: np.ndarray) -> np.ndarray:
            return X @ beta + (w[0, :, k] - w[0, :, :k] @ beta)

        member_bytes, budget = (3 * skel["bw"] + 1) * skel["N"] * 8, _BANDED_SCAN_BYTES
    else:
        v0 = _v0_grid_fn(C, COVARIANCE_BUILDERS[method])
        CX = C @ X
        rhs = np.column_stack([CX, y])

        def solve(grid: np.ndarray) -> tuple:
            V0 = v0(grid)
            _sign, logdet = np.linalg.slogdet(V0)
            return np.linalg.solve(V0, np.broadcast_to(rhs, (len(V0), *rhs.shape))), logdet, None

        def distribute(rho: float, beta: np.ndarray, z: np.ndarray, w: None) -> np.ndarray:
            return X @ beta + _SIGMA_TIMES[method](rho, C.T @ z)

        # a few (n_low, n_low) and (n,) temporaries per grid member
        member_bytes, budget = 64 * (C.shape[0] ** 2 + n), _V0_SCAN_BYTES

    def terms(grid: np.ndarray) -> tuple:
        Vinv_B, logdet, w = solve(grid)
        return _concentrate(y, CX, Vinv_B[..., :k], Vinv_B[..., k], logdet), w

    def scan(grid: np.ndarray) -> np.ndarray:
        return _scan(lambda g: terms(g)[0][0], np.asarray(grid, dtype=float), member_bytes, budget)

    def evaluate(rho: float) -> tuple[float, float, np.ndarray, np.ndarray]:
        (nll, s_star, beta, z), w = terms(np.array([rho]))
        return float(nll[0]), float(s_star[0]), beta[0], distribute(rho, beta[0], z[0], w)

    return scan, evaluate


def _regression_fit(
    y: np.ndarray,
    X: np.ndarray,
    C,
    method: str,
    optimizer_kwargs: dict | None,
    banded: bool,
) -> tuple[np.ndarray, FitResult, dict]:
    """Bounded ML fit of (rho, sigma2) for ``method`` ('chow-lin' or
    'litterman') with rho in (1e-5, 1-1e-5), the reference's feasible region
    (ts_disagg.py:438-448), plus the distribution step:
    ``(y_hat, FitResult, info)``.

    Default strategy differs from the reference (which runs a 2-D scipy
    solver from (0.8, 0.8)): sigma2 is concentrated out analytically,
    leaving a 1-D profile likelihood in rho that :func:`_profile_fit`
    searches through the back end's ``scan``; y_hat, beta and s_star come
    from the ``evaluate`` at rho_star that search already ran.

    ``optimizer_kwargs['method']`` is honored, not ignored: ``'nelder-mead'``
    runs a real bounded 2-D Nelder-Mead on the reference's objective from the
    reference's x0=(0.8, 0.8) (ts_disagg.py:441-448), so ``return_optim_res``
    consumers get scipy-semantics ``nit``/``nfev``, and then ``evaluate``
    once at its rho.  ``'powell'`` and ``'l-bfgs-b'`` (scipy solvers the
    reference passes through; scipy is not a dependency here) are solved via
    the same bounded Nelder-Mead with the substitution recorded in
    ``FitResult.message``.  Unknown method names raise ``ValueError``
    instead of being silently accepted; so does any but the profile
    optimizer on the banded back end.  ``optimizer_kwargs['options']``
    supports ``xatol``/``fatol``/``maxiter``.
    """
    kwargs = dict(optimizer_kwargs or {})
    opt = str(kwargs.get("method", "brent-profile")).lower()
    if banded and opt not in _PROFILE_OPTIMIZERS:
        raise ValueError(
            f"banded GLS fits support only the concentrated profile optimizer, got method={opt!r}"
        )
    if opt not in _PROFILE_OPTIMIZERS + _SIMPLEX_OPTIMIZERS:
        raise ValueError(
            f"Unsupported optimizer method {opt!r}: use 'nelder-mead', "
            "'powell', 'l-bfgs-b', or omit for the concentrated "
            "Brent-profile default."
        )
    scan, evaluate = _regression_backend(y, X, C, method, banded)
    if opt in _SIMPLEX_OPTIMIZERS:
        options = dict(kwargs.get("options") or {})
        x, fx, nit, nfev = _nelder_mead_minimize(
            lambda params: negative_loglik(params, y, X, C, COVARIANCE_BUILDERS[method]),
            np.full(2, 0.8),  # reference x0 (ts_disagg.py:441)
            lower=np.array([_RHO_LO, 1e-5]),
            upper=np.array([_RHO_HI, np.inf]),
            xatol=float(options.get("xatol", 1e-6)),
            fatol=float(options.get("fatol", 1e-8)),
            max_iter=options.get("maxiter"),
        )
        message = (
            "converged"
            if opt == "nelder-mead"
            else f"method '{opt}' solved via bounded Nelder-Mead "
            "(scipy is not a dependency of this engine)"
        )
        result = FitResult(x=x, fun=fx, nit=nit, nfev=nfev, message=message)
        rho, sigma2 = x
        _nll, _s, beta, y_hat = evaluate(rho)
    else:
        rho, (nll, s_star, beta, y_hat), nfev = _profile_fit(scan, evaluate)
        sigma2 = s_star / (1.0 + rho)
        result = FitResult(
            x=np.array([rho, sigma2]), fun=nll, nfev=nfev, extras={"scaled_sigma2": s_star}
        )
    info = {
        "beta": beta,
        "rho": rho,
        "sigma2": sigma2,
        "std_beta": _std_errors(rho, sigma2, X, method),
    }
    return y_hat, result, info


def fit_rho_sigma(
    y: np.ndarray,
    X: np.ndarray,
    C: np.ndarray,
    cov_builder: Callable[[float, float, int], np.ndarray],
    optimizer_kwargs: dict | None = None,
) -> FitResult:
    """The closed-form back end's :class:`FitResult` of
    :func:`_regression_fit` for the method whose builder in
    ``COVARIANCE_BUILDERS`` is ``cov_builder`` (``ValueError`` for any
    other builder)."""
    method = next((m for m, b in COVARIANCE_BUILDERS.items() if b is cov_builder), None)
    if method is None:
        raise ValueError("cov_builder must be one of COVARIANCE_BUILDERS")
    return _regression_fit(y, X, C, method, optimizer_kwargs, banded=False)[1]


def chow_lin_banded_solve(
    y: np.ndarray, X: np.ndarray, C, rho: float
) -> tuple[np.ndarray, np.ndarray, float, float]:
    """Fixed-rho banded Chow-Lin: ``(y_hat, beta, s_star, nll)`` — the
    distribution/GLS machinery alone, for callers that bring their own rho
    (and for parity testing against the dense pipeline config-by-config,
    the direct analog of the Denton banded-vs-dense battery)."""
    nll, s_star, beta, y_hat = _regression_backend(y, X, C, "chow-lin", True)[1](rho)
    return y_hat, beta, s_star, nll


def chow_lin_banded_fit(
    y: np.ndarray,
    X: np.ndarray,
    C,
    optimizer_kwargs: dict | None = None,
) -> tuple[np.ndarray, FitResult, dict]:
    """Full banded Chow-Lin solve — the very-long-series twin of
    :func:`solve_series`' regression path, with the SAME two-level
    profile-likelihood grid (identical rho semantics) but O(n b^2) per
    evaluation and O(n b) memory, and no dense constraint matrix needed.
    A 96k-point series fits in seconds.

    Only the default (profile) optimizer is supported; callers wanting the
    reference's 2-D Nelder-Mead surface fall back to the dense path.
    Raises ``ValueError`` for non-contiguous constraint support.
    """
    return _regression_fit(y, X, C, "chow-lin", optimizer_kwargs, banded=True)


#: from this high-frequency length on, solve_series fits Chow-Lin and
#: Litterman on the banded KKT (its scan costs a per-column Python loop, the
#: closed form O(n_low^3) per rho); the Denton family does not read it
BANDED_THRESHOLD = 2000


# ---------------------------------------------------------------------------
# whole-series solve (shared by the pandas API and the Spark grouped kernel)
# ---------------------------------------------------------------------------

def solve_series(
    y: np.ndarray,
    X: np.ndarray,
    C: np.ndarray,
    method: str,
    criterion: str = "proportional",
    order: int = 1,
    optimizer_kwargs: dict | None = None,
) -> tuple[np.ndarray, FitResult | None, dict]:
    """Run one series through the full method dispatch (ts_disagg.py:414-464).

    Parameters are already relational-layer outputs: ``y`` the pruned
    low-frequency vector (n_low,), ``X`` the high-frequency indicator matrix
    (n, k) in time order, ``C`` the pruned constraint matrix (n_low, n).

    Returns ``(y_hat, optimize_result_or_None, info)`` where ``info`` carries
    regression diagnostics (beta, rho, sigma2, std errors) for report output.
    """
    if method not in METHODS:
        raise ValueError(
            f"Method should be one of 'denton', 'denton-cholette', 'chow-lin', "
            f"'litterman'. Got {method}."
        )
    if criterion not in ("proportional", "additive"):
        raise ValueError(
            f"Criterion should be one of 'proportional', 'additive'. Got {criterion}"
        )

    n, k = X.shape
    if method in REGRESSION_METHODS:
        if n >= BANDED_THRESHOLD:
            # the closed-form V0 stacks cost O(n_low^3) per rho; the banded
            # AR precisions make the whole fit O(n b^2).  Falls through for
            # non-contiguous constraints or a non-profile optimizer request
            # (both only realistic at small n).
            try:
                return _regression_fit(y, X, C, method, optimizer_kwargs, banded=True)
            except ValueError:
                pass
        return _regression_fit(y, X, C, method, optimizer_kwargs, banded=False)

    if k != 1:
        raise ValueError(f"{method} supports exactly one indicator column")
    return _denton_least_norm(y, X.ravel().astype(float), C, method, order, criterion), None, {}
