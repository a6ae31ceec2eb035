"""Per-series numerical kernels for temporal disaggregation.

Pure NumPy — importable and unit-testable without Spark.  On the cluster
these run *inside* a grouped-map pandas UDF (one call per series), so every
function here operates on a single series' arrays (n = high-frequency
length, typically 10^2-10^3).

Paths (:func:`solve_series` dispatches): the Denton family takes one
least-norm solve (:func:`_denton_least_norm`) at every length, in matrices
of C's shape.  Chow-Lin and Litterman take one regression fit
(:func:`_regression_fit`) at every length: V0 = C Sigma0 C' is factored by
one LDL' recursion over the constraint rows (:func:`_v0_factor`, the
innovations form of the models' Kalman filter), O(n_low) per rho and
vectorised over the rho grid, for both the profile search and the
Nelder-Mead objective; no n x n covariance is formed.  The dense forms
(:func:`denton_covariance`, :func:`denton_cholette_distribution`,
:func:`chow_lin_covariance`, :func:`litterman_covariance`,
:func:`gls_beta`, :func:`negative_loglik`, :func:`distribution_matrix`)
remain as the reference forms the tests check against.

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
    SQL: ``year`` for yearly lows, ``4*year + (month-1)//3`` for quarterly,
    read from month ordinals m as ``m // 12 + 1970`` and ``m // 3 + 4*1970``
    (a tz-aware index on its wall clock, as its ``.year`` reads it).
    """
    if getattr(ts, "tz", None) is not None:
        ts = ts.tz_localize(None)
    months = np.asarray(ts, dtype="datetime64[ns]").astype("datetime64[M]").astype(np.int64)
    if low_family == "yearly":
        return months // 12 + 1970
    return months // 3 + 4 * 1970


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

    low_labels, high_labels = np.asarray(low_labels), np.asarray(high_labels)
    C = np.zeros((len(low_labels), len(high_labels)))
    weight = 1.0 / factor if agg_func == "mean" else 1.0
    # a stable sort lists each label's members in time order
    order = np.argsort(high_labels, kind="stable")
    first = np.searchsorted(high_labels[order], low_labels, side="left")
    count = np.searchsorted(high_labels[order], low_labels, side="right") - first
    # absent or partial periods stay all-zero
    rows = np.flatnonzero((count == factor) & (count > 0))
    if agg_func == "first":
        members = first[rows, None]
    elif agg_func == "last":
        members = first[rows, None] + factor - 1
    else:
        members = first[rows, None] + np.arange(factor)
    C[rows[:, None], order[members]] = weight
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
# V0 = C Sigma0(rho) C' through one LDL' recursion over the constraint rows
#
# Every period constraint the relational layer builds has contiguous,
# non-overlapping row support [lo_a, hi_a] with weights w_a.  Both models
# are state-space processes s_t = F s_{t-1} + noise:
#
#   * Chow-Lin: s_t = x_t, the stationary AR(1) x_t = rho x_{t-1} + e_t, so
#     F^d = rho^d and Sigma0 = rho^|i-j| / (1-rho^2);
#   * Litterman: s_t = (x_t, e_t) with x_t = x_{t-1} + e_t and
#     e_t = rho e_{t-1} + eps_t, started at zero (Sigma0 =
#     Delta^{-1} H^{-1} H^{-T} Delta^{-T}), so F^d = [[1, rho g(d)],
#     [0, rho^d]] with g(d) = sum_{i<d} rho^i.
#
# Row a's aggregate w_a' x[lo_a..hi_a] loads on s_{hi_{a-1}}, the state at
# the end of the previous row (hi_{-1} = lo_0 - 1), through
# u_a = sum_r w_ar h' F^{tau_r} with tau_r = lo_a + r - hi_{a-1}; the rest
# of it is noise that enters after hi_{a-1}.  So V0 is quasiseparable,
# V0[b, a] = u_b' Phi_{b-1} ... Phi_{a+1} v_a for a < b with
# Phi_a = F^{hi_a - hi_{a-1}}, and its LDL' is the innovations form of the
# Kalman filter over the rows.  With P_a the covariance of s_{hi_{a-1}}
# given rows 0..a-1:
#
#   D_a     = u_a' P_a u_a + Qyy_a
#   l_a     = (Phi_a P_a u_a + Qsy_a) / D_a
#   P_{a+1} = Phi_a P_a Phi_a' + Qss_a - D_a l_a l_a'
#
# where Qyy, Qsy and Qss are the moments of row a's aggregate and of
# s_{hi_a} from the noise after hi_{a-1} alone: a process started at zero,
# whose moments are sums of positive terms, stable up to rho -> 1.  P is a
# conditional covariance, so the recursion never forms the marginal
# V0[a, a] (which grows like t^3 for Litterman) only to cancel it.  The
# same loop runs the forward solve w = L^{-1} r (w_a = r_a - u_a' p_a,
# p_{a+1} = Phi_a p_a + l_a w_a).  The likelihood needs only w for
# r = [CX, y] and D, log det V0 being sum log D_a (:func:`_concentrate`);
# the back-substitution x = L^{-T} v (x_a = v_a - l_a' q_a,
# q_{a-1} = u_a x_a + Phi_a' q_a) runs once, at the fitted rho.  O(n_low)
# per rho in (G,)-vector ops over a rho grid.  u, Phi and the Q moments
# depend only on a row's shape (lead lo_a - hi_{a-1}, length and weights),
# so they are formed once per run of rows of one shape.
#
# The post-fit step needs only Sigma0 (C' z) for one vector, which both
# families give through O(n) first-order recursions (_SIGMA_TIMES), and the
# precision's square root (_whiten) for the standard errors.
# ---------------------------------------------------------------------------

def _constraint_blocks(C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row contiguous support ``[lo_i, hi_i]`` of a dense constraint
    matrix — ``ValueError`` for an empty or non-contiguous row."""
    nz = C != 0
    counts = nz.sum(axis=1)
    empty = np.flatnonzero(counts == 0)
    if empty.size:
        raise ValueError(f"constraint row {empty[0]} is empty")
    lo = nz.argmax(axis=1)
    hi = C.shape[1] - 1 - nz[:, ::-1].argmax(axis=1)
    gappy = np.flatnonzero(hi - lo + 1 != counts)
    if gappy.size:
        raise ValueError(f"constraint row {gappy[0]} support is not contiguous")
    return lo, hi


def _blocks(C, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(lo, hi, W)``: each constraint row's first and last column and its
    weights, zero-padded to the longest row (``W[a, r] = C[a, lo_a + r]``).
    ``C`` is the dense (n_low, n) matrix, or — for series long enough that
    it would itself be the memory wall, e.g. 8000 x 96000 = 6 GB — the block
    form ``(lo, hi, vals)`` with ``vals`` the rows' coefficients
    concatenated.  ``ValueError`` unless the rows are non-empty, contiguous,
    non-overlapping and inside the n high-frequency columns."""
    if isinstance(C, np.ndarray):
        lo, hi = _constraint_blocks(C)
    else:
        lo, hi, vals = (np.asarray(v) for v in C)
        lo, hi = lo.astype(int), hi.astype(int)
    lens = hi - lo + 1
    order = np.argsort(lo)
    if (lo.size == 0 or np.any(lens < 1) or lo[order[0]] < 0 or hi.max() >= n
            or np.any(lo[order[1:]] <= hi[order[:-1]])):
        raise ValueError(
            "constraint rows must be non-empty, non-overlapping and inside the "
            "high-frequency axis"
        )
    r = np.arange(lens.max())
    inside = r < lens[:, None]
    if isinstance(C, np.ndarray):
        cols = np.minimum(lo[:, None] + r, hi[:, None])
        return lo, hi, np.where(inside, C[np.arange(lo.size)[:, None], cols], 0.0)
    if vals.shape[0] != lens.sum():
        raise ValueError("vals length must equal total block support")
    W = np.zeros(inside.shape)
    W[inside] = vals
    return lo, hi, W


def _row_shapes(blocks: tuple) -> tuple:
    """The row shapes of ``blocks`` (rows in column order):
    ``(shape, span, tau, low, lag, back, Wj, WW, lo0)``.  ``shape[a]`` numbers
    the run of equal shapes row a is in (a shape is the row's lead
    lo_a - hi_{a-1}, length and weights; hi_{-1} = lo_0 - 1).  Per shape j:
    ``span[j]`` = hi_a - hi_{a-1}; ``tau[j, r]`` = lo_a + r - hi_{a-1}, the
    lead on the padding; ``low``/``lag`` the min and |difference| of every
    pair of taus; ``back`` = span - tau; ``Wj[j]`` the weights and ``WW[j]``
    their outer product.  ``lo0`` is the first row's first column."""
    lo, hi, W = blocks
    lead = lo - np.concatenate([[lo[0] - 1], hi[:-1]])
    keys = np.column_stack([lead, hi - lo + 1, W])
    new = np.concatenate([[True], np.any(keys[1:] != keys[:-1], axis=1)])
    lead, lens, Wj = keys[new, 0].astype(int), keys[new, 1].astype(int), keys[new, 2:]
    r = np.arange(W.shape[1])
    tau = np.where(r < lens[:, None], lead[:, None] + r, lead[:, None])
    span = lead + lens - 1
    return (
        (np.cumsum(new) - 1).tolist(), span, tau,
        np.minimum(tau[:, :, None], tau[:, None, :]), np.abs(tau[:, :, None] - tau[:, None, :]),
        span[:, None] - tau, Wj, Wj[:, :, None] * Wj[:, None, :], int(lo[0]),
    )


def _powers(rho: np.ndarray, top: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(rho^t, g(t), g2(t))`` for t = 0..top, g(t) = sum_{i<t} rho^i and
    g2(t) = sum_{i<t} rho^(2i): (G, top + 1) each."""
    pw = rho[:, None] ** np.arange(top + 1)
    zero = np.zeros((len(rho), 1))
    g = np.concatenate([zero, np.cumsum(pw[:, :-1], axis=1)], axis=1)
    g2 = np.concatenate([zero, np.cumsum(pw[:, :-1] ** 2, axis=1)], axis=1)
    return pw, g, g2


def _columns(*arrays: np.ndarray) -> list[tuple]:
    """Per row shape j, the tuple of every (G, J) array's column j, as (G, 1)."""
    return [tuple(a[:, j, None] for a in arrays) for j in range(arrays[0].shape[1])]


def _ar1_pieces(rho: np.ndarray, rows: tuple) -> tuple[list, np.ndarray]:
    """Chow-Lin: per row shape ``(u, Phi, u^2, Phi u, Phi^2, Qyy, Qsy,
    Qss)`` and P_0 = 1 / (1 - rho^2), the stationary variance.  The
    zero-started AR(1) has Var x_t = g2(t) and Cov(x_t, x_t') =
    rho^(t'-t) g2(t) for t <= t'."""
    _shape, span, tau, low, lag, back, Wj, WW, _lo0 = rows
    pw, _g, g2 = _powers(rho, int(span.max()))
    u = (Wj * pw[:, tau]).sum(axis=2)
    phi = pw[:, span]
    pieces = _columns(
        u,
        phi,
        u * u,
        phi * u,
        phi * phi,
        (WW * pw[:, lag] * g2[:, low]).sum(axis=(2, 3)),
        (Wj * pw[:, back] * g2[:, tau]).sum(axis=2),
        g2[:, span],
    )
    return pieces, 1.0 / (1.0 - rho[:, None] ** 2)


def _rw_pieces(rho: np.ndarray, rows: tuple) -> tuple[list, tuple]:
    """Litterman: per row shape ``(u1, u2, f, phi, phi^2, Qyy, Qsy1, Qsy2,
    Qss11, Qss12, Qss22)`` with Phi = [[1, f], [0, phi]], and P_0, the
    covariance of the zero-started state at lo_0 - 1.  After t steps from
    zero, Var e = g2(t), Cov(x, e) = g(t) g(t+1) / (1 + rho) and Var x is
    the cumsum of 2 rho Cov(x, e)(t-1) + g2(t): all positive terms."""
    _shape, span, tau, low, lag, back, Wj, WW, lo0 = rows
    pw, g, g2 = _powers(rho, max(int(span.max()), lo0) + 1)
    r, r3, r4 = rho[:, None], rho[:, None, None], rho[:, None, None, None]
    ce = g[:, :-1] * g[:, 1:] / (1.0 + r)
    ve = g2[:, :-1]
    vx = np.cumsum(np.concatenate([np.zeros_like(r), 2.0 * r * ce[:, :-1] + ve[:, 1:]], axis=1),
                   axis=1)
    phi = pw[:, span]
    pieces = _columns(
        np.broadcast_to(Wj.sum(axis=1), phi.shape),
        r * (Wj * g[:, tau]).sum(axis=2),
        r * g[:, span],
        phi,
        phi * phi,
        (WW * (vx[:, low] + r4 * g[:, lag] * ce[:, low])).sum(axis=(2, 3)),
        (Wj * (vx[:, tau] + r3 * g[:, back] * ce[:, tau])).sum(axis=2),
        (Wj * pw[:, back] * ce[:, tau]).sum(axis=2),
        vx[:, span],
        ce[:, span],
        ve[:, span],
    )
    return pieces, (vx[:, lo0, None], ce[:, lo0, None], ve[:, lo0, None])


def _ldl_ar1(shape: list, pieces: list, p: np.ndarray, rhs: np.ndarray) -> tuple:
    """The LDL' recursion (see the section comment) for a scalar state:
    ``(L^{-1} rhs, D, back)`` with ``back(v)`` = L^{-T} v; (G, n_low, c)
    and (G, n_low)."""
    pf = np.zeros((p.shape[0], rhs.shape[1]))
    Ds, ells, ws = [], [], []
    for r_a, j in zip(rhs, shape):
        u, phi, uu, phiu, phi2, qyy, qsy, qss = pieces[j]
        D = uu * p + qyy
        num = phiu * p + qsy
        ell = num / D
        p = phi2 * p + qss - num * ell
        w = r_a - u * pf
        pf = phi * pf + ell * w
        Ds.append(D)
        ells.append(ell)
        ws.append(w)

    def back(v: np.ndarray) -> np.ndarray:
        q = np.zeros_like(v[:, 0])
        x = [q] * len(shape)
        for a in range(len(shape) - 1, -1, -1):
            u, phi = pieces[shape[a]][:2]
            x[a] = v[:, a] - ells[a] * q
            q = u * x[a] + phi * q
        return np.stack(x, axis=1)

    return np.stack(ws, axis=1), np.hstack(Ds), back


def _ldl_rw(shape: list, pieces: list, p: tuple, rhs: np.ndarray) -> tuple:
    """The LDL' recursion for Litterman's two-dimensional state, in scalar
    ops on P = [[p11, p12], [p12, p22]]."""
    p11, p12, p22 = p
    pf1 = pf2 = np.zeros((p11.shape[0], rhs.shape[1]))
    Ds, l1s, l2s, ws = [], [], [], []
    for r_a, j in zip(rhs, shape):
        u1, u2, f, phi, phi2, qyy, qs1, qs2, q11, q12, q22 = pieces[j]
        pu1 = p11 * u1 + p12 * u2
        pu2 = p12 * u1 + p22 * u2
        D = u1 * pu1 + u2 * pu2 + qyy
        num1 = pu1 + f * pu2 + qs1
        num2 = phi * pu2 + qs2
        l1, l2 = num1 / D, num2 / D
        t = p12 + f * p22
        p11 = p11 + f * (p12 + t) + q11 - num1 * l1
        p12 = phi * t + q12 - num1 * l2
        p22 = phi2 * p22 + q22 - num2 * l2
        w = r_a - u1 * pf1 - u2 * pf2
        pf1, pf2 = pf1 + f * pf2 + l1 * w, phi * pf2 + l2 * w
        Ds.append(D)
        l1s.append(l1)
        l2s.append(l2)
        ws.append(w)

    def back(v: np.ndarray) -> np.ndarray:
        q1 = q2 = np.zeros_like(v[:, 0])
        x = [q1] * len(shape)
        for a in range(len(shape) - 1, -1, -1):
            u1, u2, f, phi = pieces[shape[a]][:4]
            x[a] = v[:, a] - l1s[a] * q1 - l2s[a] * q2
            q1, q2 = u1 * x[a] + q1, u2 * x[a] + f * q1 + phi * q2
        return np.stack(x, axis=1)

    return np.stack(ws, axis=1), np.hstack(Ds), back


_STATE_FORMS = {"chow-lin": (_ar1_pieces, _ldl_ar1), "litterman": (_rw_pieces, _ldl_rw)}


def _v0_factor(method: str, rho: np.ndarray, rows: tuple, rhs: np.ndarray) -> tuple:
    """V0 = L D L' for every rho of a grid, applied to ``rhs`` (n_low, c):
    ``(L^{-1} rhs, D, back)`` with ``back(v)`` = L^{-T} v, (G, n_low, c)
    and (G, n_low); ``rows`` from :func:`_row_shapes`."""
    pieces_fn, ldl = _STATE_FORMS[method]
    pieces, p0 = pieces_fn(np.asarray(rho, dtype=float), rows)
    return ldl(rows[0], pieces, p0, rhs)


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


_SIGMA_TIMES = {"chow-lin": _chow_lin_sigma_times, "litterman": _litterman_sigma_times}


def _concentrate(
    CXw: np.ndarray, yw: np.ndarray, D: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Concentrated GLS over a rho grid in the coordinates of the unit-scale
    V0 = L D L' = C Sigma0 C': from L^{-1}[CX, y] (``(G, n_low, k)`` and
    ``(G, n_low)``) and D (``(G, n_low)``), ``(nll, s_star, beta, e)`` per
    grid point, with e = D^{-1} L^{-1}(y - CX beta), so that
    V0^{-1}(y - CX beta) = L^{-T} e, and log det V0 = sum log D.  sigma2 is
    a pure scale of Sigma, so the likelihood profiles it out at
    s_star = resid' V0^{-1} resid / n_low; beta and e do not depend on
    it."""
    n_low = D.shape[1]
    CXd = (CXw / D[..., None]).transpose(0, 2, 1)
    beta = np.linalg.solve(CXd @ CXw, CXd @ yw[..., None])
    resid = yw - (CXw @ beta)[..., 0]
    e = resid / D
    s_star = np.maximum((resid * e).sum(axis=1) / n_low, 1e-300)
    logdet = np.log(D).sum(axis=1)
    nll = 0.5 * (n_low * np.log(2.0 * np.pi) + n_low * np.log(s_star) + logdet + n_low)
    return nll, s_star, beta[..., 0], e


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



def _whiten(rho: float, X: np.ndarray, reg_method: str) -> np.ndarray:
    """B X with B'B = Sigma0^{-1}, by differences: Chow-Lin's AR(1)
    precision factors as rows sqrt(1 - rho^2) x_0 and x_t - rho x_{t-1};
    Litterman's Delta' H' H Delta as H Delta, d_t - rho d_{t-1} over the
    first differences d of x (x_{-1} = 0)."""
    X = np.asarray(X, dtype=float)
    if reg_method == "chow-lin":
        out = X.copy()
        out[0] *= np.sqrt(1.0 - rho**2)
        out[1:] -= rho * X[:-1]
        return out
    d = np.diff(X, axis=0, prepend=0.0)
    out = d.copy()
    out[1:] -= rho * d[:-1]
    return out


def _std_errors(rho: float, sigma2: float, X: np.ndarray, reg_method: str) -> np.ndarray:
    """sqrt(diag((X' Sigma^{-1} X)^{-1})) with Sigma = sigma2 * Sigma0(rho),
    through the square root of the band precision (ts_disagg.py:452-455).
    sigma2 is applied last, so an exact fit (sigma2 at the profile's 1e-300
    floor) gives tiny standard errors instead of overflowing."""
    BX = _whiten(rho, X, reg_method)
    return np.sqrt(np.diagonal(np.linalg.inv(BX.T @ BX)) * sigma2)


# ---------------------------------------------------------------------------
# the regression fit driver: one fit for Chow-Lin and Litterman, whose
# likelihood and distribution step come from the LDL' recursion of the
# unit-scale V0 = C Sigma0 C' at every length
# ---------------------------------------------------------------------------

_PROFILE_OPTIMIZERS = ("brent-profile", "profile")
_SIMPLEX_OPTIMIZERS = ("nelder-mead", "powell", "l-bfgs-b")


def _regression_backend(
    y: np.ndarray, X: np.ndarray, C, method: str
) -> tuple[Callable[[np.ndarray], np.ndarray], Callable[[float], tuple]]:
    """``(profile, evaluate)`` of the concentrated GLS fit of ``method``:
    ``profile(grid)`` is the (G, 2) array of ``(nll, s_star)`` over a rho
    grid, ``evaluate(rho)`` is ``(nll, s_star, beta, y_hat)`` at one rho.

    The likelihood needs only :func:`_v0_factor`'s forward pass,
    L^{-1} [CX, y] and D; one back-substitution at the evaluated rho gives
    z = V0^{-1}(y - CX beta), and y_hat distributes through Sigma0 C' z by
    the O(n) recursions.  ``C`` is dense or in the block form of
    :func:`_blocks`."""
    n, k = X.shape
    lo, hi, W = _blocks(C, n)
    # the fit does not depend on the order of the rows; the recursion runs
    # them in time order
    order = np.argsort(lo)
    lo, hi, W = blocks = lo[order], hi[order], W[order]
    y = np.asarray(y, dtype=float)[order]
    cols = np.minimum(lo[:, None] + np.arange(W.shape[1]), hi[:, None])
    CX = np.einsum("ar,ark->ak", W, X[cols])
    rhs = np.column_stack([CX, y])
    rows = _row_shapes(blocks)

    def terms(grid: np.ndarray) -> tuple:
        w, D, back = _v0_factor(method, grid, rows, rhs)
        return *_concentrate(w[..., :k], w[..., k], D), back

    def profile(grid: np.ndarray) -> np.ndarray:
        return np.column_stack(terms(np.asarray(grid, dtype=float))[:2])

    def evaluate(rho: float) -> tuple[float, float, np.ndarray, np.ndarray]:
        nll, s_star, beta, e, back = terms(np.array([rho]))
        z = back(e[..., None])[0, :, 0]  # V0^{-1}(y - CX beta)
        CTz = np.bincount(cols.ravel(), weights=(W * z[:, None]).ravel(), minlength=n)
        return float(nll[0]), float(s_star[0]), beta[0], X @ beta[0] + _SIGMA_TIMES[method](rho, CTz)

    return profile, evaluate


def _simplex_objective(
    profile: Callable[[np.ndarray], np.ndarray], n_low: int
) -> Callable[[np.ndarray], float]:
    """The reference's NLL over (rho, sigma2) (:func:`negative_loglik`,
    V = (1 + rho) sigma2 V0(rho)) read off the profile at rho: with
    s = (1 + rho) sigma2 and r = s_star / s it is
    nll(s_star) + n_low/2 (r - 1 - log r)."""

    def objective(params: np.ndarray) -> float:
        rho, sigma2 = params
        nll, s_star = profile(np.array([rho]))[0]
        ratio = s_star / ((1.0 + rho) * sigma2)
        return float(nll + 0.5 * n_low * (ratio - 1.0 - np.log(ratio)))

    return objective


def _regression_fit(
    y: np.ndarray,
    X: np.ndarray,
    C,
    method: str,
    optimizer_kwargs: dict | None,
) -> tuple[np.ndarray, FitResult, dict]:
    """Bounded ML fit of (rho, sigma2) for ``method`` ('chow-lin' or
    'litterman') with rho in (1e-5, 1-1e-5), the reference's feasible region
    (ts_disagg.py:438-448), plus the distribution step:
    ``(y_hat, FitResult, info)``.

    Default strategy differs from the reference (which runs a 2-D scipy
    solver from (0.8, 0.8)): sigma2 is concentrated out analytically,
    leaving a 1-D profile likelihood in rho that :func:`_profile_fit`
    searches; y_hat, beta and s_star come from the ``evaluate`` at rho_star
    that search already ran.

    ``optimizer_kwargs['method']`` is honored, not ignored: ``'nelder-mead'``
    runs a real bounded 2-D Nelder-Mead on the reference's objective from the
    reference's x0=(0.8, 0.8) (ts_disagg.py:441-448), so ``return_optim_res``
    consumers get scipy-semantics ``nit``/``nfev``, and then ``evaluate``
    once at its rho; its objective comes from the same profile
    (:func:`_simplex_objective`), with no n x n covariance.  ``'powell'`` and
    ``'l-bfgs-b'`` (scipy solvers the reference passes through; scipy is not
    a dependency here) are solved via the same bounded Nelder-Mead with the
    substitution recorded in ``FitResult.message``.  Unknown method names
    raise ``ValueError`` instead of being silently accepted.
    ``optimizer_kwargs['options']`` supports ``xatol``/``fatol``/``maxiter``.
    """
    kwargs = dict(optimizer_kwargs or {})
    opt = str(kwargs.get("method", "brent-profile")).lower()
    if opt not in _PROFILE_OPTIMIZERS + _SIMPLEX_OPTIMIZERS:
        raise ValueError(
            f"Unsupported optimizer method {opt!r}: use 'nelder-mead', "
            "'powell', 'l-bfgs-b', or omit for the concentrated "
            "Brent-profile default."
        )
    profile, evaluate = _regression_backend(y, X, C, method)
    if opt in _SIMPLEX_OPTIMIZERS:
        options = dict(kwargs.get("options") or {})
        x, fx, nit, nfev = _nelder_mead_minimize(
            _simplex_objective(profile, len(y)),
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
        rho, (nll, s_star, beta, y_hat), nfev = _profile_fit(
            lambda grid: profile(grid)[:, 0], evaluate
        )
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
    """The :class:`FitResult` of :func:`_regression_fit` for the method whose
    builder in ``COVARIANCE_BUILDERS`` is ``cov_builder`` (``ValueError``
    for any other builder)."""
    method = next((m for m, b in COVARIANCE_BUILDERS.items() if b is cov_builder), None)
    if method is None:
        raise ValueError("cov_builder must be one of COVARIANCE_BUILDERS")
    return _regression_fit(y, X, C, method, optimizer_kwargs)[1]


def chow_lin_banded_solve(
    y: np.ndarray, X: np.ndarray, C, rho: float
) -> tuple[np.ndarray, np.ndarray, float, float]:
    """Fixed-rho Chow-Lin: ``(y_hat, beta, s_star, nll)`` — the
    distribution/GLS machinery alone, for callers that bring their own rho.
    The name survives from the banded-KKT back end it used to run; it now
    runs the one regression path, and ``C`` may be in block form."""
    nll, s_star, beta, y_hat = _regression_backend(y, X, C, "chow-lin")[1](rho)
    return y_hat, beta, s_star, nll


def chow_lin_banded_fit(
    y: np.ndarray,
    X: np.ndarray,
    C,
    optimizer_kwargs: dict | None = None,
) -> tuple[np.ndarray, FitResult, dict]:
    """Full Chow-Lin fit, ``(y_hat, FitResult, info)``: the regression path
    of :func:`solve_series` for a constraint matrix that may be in block
    form ``(lo, hi, vals)``, where a dense C would itself be the memory
    wall.  The name survives from the banded-KKT back end it used to run."""
    return _regression_fit(y, X, C, "chow-lin", optimizer_kwargs)


#: the high-frequency length from which Chow-Lin and Litterman fits used to
#: take a banded KKT; no kernel path reads it any more.  Kept for callers
#: that split series into long and short by it (the perfbench workload
#: designs)
BANDED_THRESHOLD = 2000


# ---------------------------------------------------------------------------
# whole-series solve (shared by the pandas API and the Spark grouped kernel)
# ---------------------------------------------------------------------------

def _check_method_args(method: str, criterion: str, agg_func: str = "sum") -> None:
    """Argument checks shared by :func:`solve_series` and ``disagg``'s core."""
    if method not in METHODS:
        raise ValueError(
            f"Method should be one of 'denton', 'denton-cholette', 'chow-lin', "
            f"'litterman'. Got {method}."
        )
    if criterion not in ("proportional", "additive"):
        raise ValueError(
            f"Criterion should be one of 'proportional', 'additive'. Got {criterion}"
        )
    if agg_func not in AGG_FUNCS:
        raise ValueError(
            f"agg_func should be one of 'mean', 'sum', 'first', 'last'. Got {agg_func}"
        )


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
    _check_method_args(method, criterion)
    if method in REGRESSION_METHODS:
        return _regression_fit(y, X, C, method, optimizer_kwargs)

    if X.shape[1] != 1:
        raise ValueError(f"{method} supports exactly one indicator column")
    return _denton_least_norm(y, X.ravel().astype(float), C, method, order, criterion), None, {}
