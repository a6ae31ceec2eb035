"""Single-series, pandas-facing temporal disaggregation API.

Behavior-parity surface for the reference's only public entry point
``disaggregate_series`` (``/root/reference/tsdisagg/ts_disagg.py:302-472``),
re-implemented on top of this package's independent calendar
(:mod:`tsdisagg_spark.frequency`) and numerics (:mod:`tsdisagg_spark.kernels`).

This module is intentionally driver-side pandas: it exists so the engine's
numerics can be golden-tested against the reference's R ``tempdisagg``
fixtures, and it is the same kernel path the Spark layer runs per series
inside ``applyInPandas`` (see :mod:`tsdisagg_spark.spark.disagg`).
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd

from tsdisagg_spark import frequency as freq
from tsdisagg_spark import kernels
from tsdisagg_spark._stats import student_t_ppf, student_t_sf
from tsdisagg_spark.kernels import FitResult


def _require_datetime_index(df: pd.DataFrame, arg_name: str) -> None:
    if not isinstance(df.index, pd.DatetimeIndex):
        raise ValueError(
            f"No datetime index found on the dataframe passed as argument to {arg_name}."
        )


def _require_complete(df: pd.DataFrame, arg_name: str) -> None:
    # fast path for all-float frames (the fleet kernel's case): one numpy
    # isnan over the block beats pandas' per-column isna reduction ~10x
    vals = df.to_numpy()
    missing = (
        bool(np.isnan(vals).any())
        if vals.dtype.kind == "f"
        else bool(df.isna().any().any())
    )
    if missing:
        raise ValueError(f"{arg_name} has missing values.")


def _inferred_only(index) -> str | None:
    """``DatetimeIndex.inferred_freq`` semantics (ignores any attached
    ``.freq``), with the engine's numpy fast path for regular
    start-anchored shapes (frequency._fast_infer — identical strings)."""
    idx = pd.DatetimeIndex(index)
    code = freq._fast_infer(idx)
    return code if code is not None else idx.inferred_freq


def _resolve_frequencies(
    low_df: pd.DataFrame,
    high_df: pd.DataFrame | None,
    target_freq: str | None,
) -> tuple[str, str]:
    """Reference's frequency-resolution ladder (ts_disagg.py:246-270)."""
    low_code = freq.infer_code(low_df.index)
    if not low_code:
        raise ValueError(
            "Low frequency dataframe does not have a valid time index with "
            "frequency information"
        )

    if high_df is None:
        high_code = target_freq if target_freq else freq.step_down(low_code)
    elif target_freq is not None:
        if _inferred_only(high_df.index) != target_freq:
            raise ValueError(
                "User provided target_freq does not match frequency information "
                "found on indicator data high_freq_df."
            )
        high_code = target_freq
    else:
        high_code = _inferred_only(high_df.index)
        if not high_code:
            raise ValueError(
                "Indicator data high_freq_df does not have a valid time index with "
                "frequency information"
            )

    freq.validate_codes(low_code, high_code)
    return low_code, high_code


def prepare_inputs(
    low_freq_df: pd.DataFrame,
    high_freq_df: pd.DataFrame | pd.Series | None,
    target_freq: str | None,
    method: str,
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame, int, str, str]:
    """Validate, resolve frequencies, synthesize the companion indicator when
    allowed, and outer-merge target with indicators on the time axis
    (ts_disagg.py:213-299).

    Returns ``(merged, low_df, high_df, factor, low_code, high_code)``.
    """
    low_df = low_freq_df.copy()
    _require_datetime_index(low_df, "low_freq_df")
    _require_complete(low_df, "low_freq_df")

    if high_freq_df is not None:
        high_df = (
            high_freq_df.to_frame()
            if isinstance(high_freq_df, pd.Series)
            else high_freq_df.copy()
        )
        _require_datetime_index(high_df, "high_freq_df")
        _require_complete(high_df, "high_freq_df")
        if high_df.index[0] > low_df.index[0]:
            n_uncovered = int((low_df.index < high_df.index[0]).sum())
            raise ValueError(
                f"Start date found on high frequency data "
                f"{high_df.index[0].strftime('%Y-%m-%d')} is after start date found "
                f"on low frequency data {low_df.index[0].strftime('%Y-%m-%d')}. "
                f"Interpolation is not possible in this case, because there is no "
                f"observed high frequency data associated with the first "
                f"{n_uncovered} low-frequency observations. Align the start date "
                f"of these two dataframes and try again."
            )
    else:
        high_df = None

    low_code, high_code = _resolve_frequencies(low_df, high_df, target_freq)
    factor = freq.conversion_factor(low_code, high_code)

    # rename only the first column — reference quirk for multi-column targets
    # (ts_disagg.py:276-283); callers resolve the target by original name first.
    target_name = str(low_df.columns[0])
    low_label, high_label = freq.output_column_names(target_name, low_code, high_code)
    low_df = low_df.rename(columns={target_name: low_label})

    if high_df is None:
        if method not in ("denton", "denton-cholette"):
            raise ValueError(
                'high_freq_df can only be None for methods "denton" and '
                '"denton-cholette", otherwise a dataframe of high-frequency '
                "indicators must be provided."
            )
        timeline = freq.companion_index(low_df.index, low_code, high_code)
        high_df = pd.DataFrame({high_label: np.ones(len(timeline))}, index=timeline)

    # outer-merge on the time axis (ts_disagg.py:298).  Fleet fast path:
    # when the low stamps are a subset of a sorted unique high timeline —
    # every well-formed disaggregation input — the union index IS the high
    # index and the join degenerates to a reindex of the target column
    # (verified equal to the pandas join for this shape; ~5x cheaper, and
    # prepare_inputs runs once per series per applyInPandas group)
    if (
        high_df.index.is_monotonic_increasing
        and high_df.index.is_unique
        and low_df.index.is_unique  # reindex rejects duplicate labels
        and low_df.index.isin(high_df.index).all()
    ):
        merged = high_df.copy()
        for i, col in enumerate(low_df.columns):
            merged.insert(i, col, low_df[col].reindex(high_df.index))
    else:
        merged = low_df.join(high_df, how="outer")
    return merged, low_df, high_df, factor, low_code, high_code


def regression_report_frame(
    X_columns: list[str], info: dict, n_obs: int
) -> pd.DataFrame:
    """GLS diagnostics as a small DataFrame (replaces the reference's stdout
    report, ts_disagg.py:179-210): one row per indicator with coef, sd err,
    t, p-value and the 95% CI."""
    beta, std = np.ravel(info["beta"]), np.ravel(info["std_beta"])
    dof = n_obs - (len(beta) + 2)
    t_crit = student_t_ppf(1 - 0.025, dof)
    t_stat = beta / std
    return pd.DataFrame(
        {
            "variable": X_columns,
            "coef": beta,
            "sd_err": std,
            "t": t_stat,
            "p_value": student_t_sf(np.abs(t_stat), dof),
            "ci_low": beta - t_crit * std,
            "ci_high": beta + t_crit * std,
        }
    )


def disaggregate_full(
    low_freq_df: pd.DataFrame | pd.Series,
    high_freq_df: pd.DataFrame | pd.Series | None = None,
    target_freq: str | None = None,
    target_column: str | None = None,
    agg_func: str = "sum",
    method: str = "denton-cholette",
    criterion: str = "proportional",
    h: int = 1,
    optimizer_kwargs: dict | None = None,
    verbose: bool = True,
    compute_report: bool = True,
) -> dict:
    """Full disaggregation pass returning every artifact: the interpolated
    series, the optimizer result, and regression diagnostics.

    Returns a dict with keys ``output`` (pd.Series on the high-frequency
    axis), ``result`` (:class:`~tsdisagg_spark.kernels.FitResult` or None),
    ``info`` (regression internals), ``report`` (diagnostics DataFrame or
    None), ``n_obs``.

    ``compute_report=False`` skips building the diagnostics DataFrame (the
    t-quantile continued fractions are a measurable cost per series at fleet
    width; the Spark grouped kernel only consumes ``output``).
    """
    if isinstance(low_freq_df, pd.Series):
        low_freq_df = low_freq_df.to_frame()

    if method not in kernels.METHODS:
        raise ValueError(
            f"Method should be one of 'denton', 'denton-cholette', 'chow-lin', "
            f"'litterman'. Got {method}."
        )
    if criterion not in ("proportional", "additive"):
        raise ValueError(
            f"Criterion should be one of 'proportional', 'additive'. Got {criterion}"
        )
    if agg_func not in kernels.AGG_FUNCS:
        raise ValueError(
            f"agg_func should be one of 'mean', 'sum', 'first', 'last'. Got {agg_func}"
        )

    target_column = target_column or low_freq_df.columns[0]
    if target_column not in low_freq_df.columns:
        raise ValueError(f"target_column {target_column!r} is not a column of low_freq_df")
    target_pos = int(np.flatnonzero(low_freq_df.columns == target_column)[0])

    merged, low_df, high_df, factor, low_code, high_code = prepare_inputs(
        low_freq_df, high_freq_df, target_freq, method
    )

    # --- constraint matrix over calendar periods (ts_disagg.py:45-81) ---
    low_family = freq.family(low_code)
    label_family = "yearly" if low_family == "yearly" else "quarterly"
    low_labels = kernels.period_labels(low_df.index, label_family)
    high_labels = kernels.period_labels(high_df.index, label_family)
    C = kernels.conversion_matrix(low_labels, high_labels, factor, agg_func)

    if len(merged) != len(high_df):
        raise ValueError(
            "Every low-frequency timestamp must coincide with a high-frequency "
            "timestamp; found low-frequency stamps absent from the indicator "
            "timeline."
        )

    # --- coverage pruning (ts_disagg.py:398-407) ---
    uncovered = ~C.any(axis=1)
    if uncovered.any():
        dropped = low_df.index.strftime("%Y-%m-%d")[uncovered]
        warnings.warn(
            f"Insufficent high-frequency data to decompose the following dates: "
            f'{", ".join(dropped)}',
            UserWarning,
        )
    target_label = merged.columns[target_pos]
    y = merged.iloc[:, target_pos].dropna().to_numpy()[~uncovered]
    C = C[~uncovered, :]
    X_frame = merged.drop(columns=[target_label])
    X = X_frame.to_numpy(dtype=float)

    y_hat, result, info = kernels.solve_series(
        y, X, C, method, criterion=criterion, order=h,
        optimizer_kwargs=optimizer_kwargs,
    )

    report = None
    if info and (compute_report or verbose):
        report = regression_report_frame(list(X_frame.columns), info, X.shape[0])
        if verbose:
            print(f"Dependent Variable: {target_label}")
            print(f"GLS Estimates using {method.title()}'s covariance matrix")
            print(report.to_string(index=False))
            print(f"rho = {info['rho']:.4f}  sigma.sq = {info['sigma2']:.4f}")

    output = pd.Series(np.asarray(y_hat).ravel(), index=merged.index, name=target_column)
    output.index.freq = _inferred_only(output.index)

    return {
        "output": output,
        "result": result,
        "info": info,
        "report": report,
        "n_obs": X.shape[0],
    }


def disaggregate_series(
    low_freq_df: pd.DataFrame | pd.Series,
    high_freq_df: pd.DataFrame | pd.Series | None = None,
    target_freq: str | None = None,
    target_column: str | None = None,
    agg_func: str = "sum",
    method: str = "denton-cholette",
    criterion: str = "proportional",
    h: int = 1,
    optimizer_kwargs: dict | None = None,
    verbose: bool = True,
    return_optim_res: bool = False,
) -> pd.Series | tuple[pd.Series, FitResult]:
    """Convert a low-frequency series to a higher frequency, preserving the
    chosen aggregate (``sum``/``mean``/``first``/``last``), optionally guided
    by high-frequency indicator series.

    Drop-in behavioral equivalent of the reference API (ts_disagg.py:302-472);
    methods: ``denton``, ``denton-cholette``, ``chow-lin``, ``litterman``.
    """
    arts = disaggregate_full(
        low_freq_df,
        high_freq_df,
        target_freq=target_freq,
        target_column=target_column,
        agg_func=agg_func,
        method=method,
        criterion=criterion,
        h=h,
        optimizer_kwargs=optimizer_kwargs,
        verbose=verbose,
    )
    if return_optim_res and arts["result"] is not None:
        return arts["output"], arts["result"]
    return arts["output"]
