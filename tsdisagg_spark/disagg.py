"""Single-series temporal disaggregation: one array-level core and the
pandas-facing API around it.

Behavior-parity surface for the reference's only public entry point
``disaggregate_series`` (``/root/reference/tsdisagg/ts_disagg.py:302-472``),
re-implemented on top of this package's independent calendar
(:mod:`tsdisagg_spark.frequency`) and numerics (:mod:`tsdisagg_spark.kernels`).

:func:`_disaggregate_arrays` is the one per-series path, on numpy arrays;
:func:`_align` is its input contract.  The Spark kernel stage
(:mod:`tsdisagg_spark.spark.disagg`) hands it each group's columns, and
:func:`disaggregate_full` turns frames into those arrays and the result
back into a ``pd.Series``, so pandas objects exist only at this boundary.
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


def _align(
    low_ts: np.ndarray, y: np.ndarray, high_ts: np.ndarray | None, X: np.ndarray | None,
    method: str, target_freq: str | None, low_freq: str | None = None,
) -> tuple[np.ndarray, np.ndarray, int, str, str]:
    """Validate one series and put it on its high-frequency timeline
    (ts_disagg.py:213-299): resolve both frequency codes by the reference's
    ladder (:246-270), synthesize the companion timeline and its all-ones
    indicator when ``X`` is None, and require every low stamp to be a high
    stamp.  ``low_freq`` (the ``.freq`` attached to a pandas index) is the
    low code when given; every other code is inferred from the stamps.

    Returns ``(high_ts, X, factor, low_code, high_code)``."""
    if np.isnan(y).any():
        raise ValueError("low_freq_df has missing values.")
    if X is not None:
        if np.isnan(X).any():
            raise ValueError("high_freq_df has missing values.")
        if high_ts[0] > low_ts[0]:
            n_uncovered = int((low_ts < high_ts[0]).sum())
            raise ValueError(
                f"Start date found on high frequency data "
                f"{np.datetime_as_string(high_ts[0], unit='D')} is after start date "
                f"found on low frequency data {np.datetime_as_string(low_ts[0], unit='D')}. "
                f"Interpolation is not possible in this case, because there is no "
                f"observed high frequency data associated with the first "
                f"{n_uncovered} low-frequency observations. Align the start date "
                f"of these two dataframes and try again."
            )

    low_code = low_freq or freq.infer_code(low_ts)
    if not low_code:
        raise ValueError(
            "Low frequency dataframe does not have a valid time index with "
            "frequency information"
        )
    if X is None:
        high_code = target_freq if target_freq else freq.step_down(low_code)
    elif target_freq is not None:
        if freq.infer_code(high_ts) != target_freq:
            raise ValueError(
                "User provided target_freq does not match frequency information "
                "found on indicator data high_freq_df."
            )
        high_code = target_freq
    else:
        high_code = freq.infer_code(high_ts)
        if not high_code:
            raise ValueError(
                "Indicator data high_freq_df does not have a valid time index with "
                "frequency information"
            )
    freq.validate_codes(low_code, high_code)
    factor = freq.conversion_factor(low_code, high_code)

    if X is None:
        if method not in ("denton", "denton-cholette"):
            raise ValueError(
                'high_freq_df can only be None for methods "denton" and '
                '"denton-cholette", otherwise a dataframe of high-frequency '
                "indicators must be provided."
            )
        high_ts = freq.companion_index(low_ts, low_code, high_code).to_numpy()
        X = np.ones((len(high_ts), 1))

    # resolved frequencies make both timelines sorted and unique, so the
    # reference's outer merge (ts_disagg.py:298) is the high timeline itself
    # exactly when the low stamps are a subset of it
    if not np.isin(low_ts, high_ts).all():
        raise ValueError(
            "Every low-frequency timestamp must coincide with a high-frequency "
            "timestamp; found low-frequency stamps absent from the indicator "
            "timeline."
        )
    return high_ts, X, factor, low_code, high_code


def _disaggregate_arrays(
    low_ts: np.ndarray, y: np.ndarray, high_ts: np.ndarray | None, X: np.ndarray | None,
    *, method: str, agg_func: str = "sum", criterion: str = "proportional", h: int = 1,
    target_freq: str | None = None, optimizer_kwargs: dict | None = None,
    low_freq: str | None = None,
) -> tuple[np.ndarray, np.ndarray, FitResult | None, dict, str]:
    """The one per-series disaggregation path, on numpy arrays: the
    target's wall-clock ``datetime64[ns]`` stamps and values, and the
    indicator stamps and (n, k) matrix, or both None for the Denton
    companion timeline.  Checks the arguments, aligns (:func:`_align`),
    builds C from month ordinals, prunes uncovered low periods with a
    warning and solves.  Returns ``(high_ts, y_hat, result, info,
    low_code)``."""
    kernels._check_method_args(method, criterion, agg_func)
    high_ts, X, factor, low_code, _high_code = _align(
        low_ts, y, high_ts, X, method, target_freq, low_freq
    )

    # --- constraint matrix over calendar periods (ts_disagg.py:45-81) ---
    label_family = "yearly" if freq.family(low_code) == "yearly" else "quarterly"
    low_labels = kernels.period_labels(low_ts, label_family)
    high_labels = kernels.period_labels(high_ts, label_family)
    C = kernels.conversion_matrix(low_labels, high_labels, factor, agg_func)

    # --- coverage pruning (ts_disagg.py:398-407) ---
    covered = C.any(axis=1)
    if not covered.all():
        dropped = np.datetime_as_string(low_ts[~covered], unit="D")
        warnings.warn(
            f"Insufficent high-frequency data to decompose the following dates: "
            f'{", ".join(dropped)}',
            UserWarning,
        )
    y_hat, result, info = kernels.solve_series(
        y[covered], X, C[covered], method, criterion=criterion, order=h,
        optimizer_kwargs=optimizer_kwargs,
    )
    return high_ts, np.ravel(y_hat), result, info, low_code


def _wall_stamps(index: pd.DatetimeIndex) -> np.ndarray:
    """Stamps on the wall clock, which a tz-aware index's ``.year`` reads."""
    if index.tz is not None:
        index = index.tz_localize(None)
    return index.to_numpy(dtype="datetime64[ns]")


def _frame_arrays(low_df: pd.DataFrame, pos: int, high_freq_df) -> tuple:
    """The index checks of the pandas API and the whole target frame's
    missing-value check (the core checks ``y`` and ``X``), then its inputs:
    ``(high_df, (low_ts, y, high_ts, X), low_freq)`` with ``y`` the low
    column at position ``pos`` and ``high_df`` None or a frame."""
    _require_datetime_index(low_df, "low_freq_df")
    if low_df.isna().to_numpy().any():
        raise ValueError("low_freq_df has missing values.")
    high_df = high_ts = X = None
    if high_freq_df is not None:
        high_df = high_freq_df.to_frame() if isinstance(high_freq_df, pd.Series) else high_freq_df
        _require_datetime_index(high_df, "high_freq_df")
        high_ts, X = _wall_stamps(high_df.index), high_df.to_numpy(dtype=float)
    y = low_df.iloc[:, pos].to_numpy(dtype=float)
    return high_df, (_wall_stamps(low_df.index), y, high_ts, X), low_df.index.freqstr


def _companion_index(ts: np.ndarray, low_df: pd.DataFrame) -> pd.DatetimeIndex:
    """A companion timeline's index, on the target's time zone."""
    index = pd.DatetimeIndex(ts)
    return index if low_df.index.tz is None else index.tz_localize(low_df.index.tz)


def prepare_inputs(
    low_freq_df: pd.DataFrame,
    high_freq_df: pd.DataFrame | pd.Series | None,
    target_freq: str | None,
    method: str,
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame, int, str, str]:
    """:func:`_align` on frames, for perfbench's replay, which times it.

    Returns ``(merged, low_df, high_df, factor, low_code, high_code)``:
    ``merged`` is ``low_df`` (first column renamed ``<family>_<name>``) on
    the high timeline, then ``high_df`` (indicators or companion column)."""
    high_df, arrays, low_freq = _frame_arrays(low_freq_df, 0, high_freq_df)
    high_ts, X, factor, low_code, high_code = _align(*arrays, method, target_freq, low_freq)
    target_name = low_freq_df.columns[0]
    low_label, high_label = freq.output_column_names(str(target_name), low_code, high_code)
    low_df = low_freq_df.rename(columns={target_name: low_label})
    if high_df is None:
        high_df = pd.DataFrame({high_label: X[:, 0]}, index=_companion_index(high_ts, low_df))
    merged = pd.concat([low_df.reindex(high_df.index), high_df], axis=1)
    return merged, low_df, high_df, factor, low_code, high_code


def _report_columns(X_columns: list[str], info: dict, n_obs: int) -> dict:
    """The columns of :func:`regression_report_frame`."""
    beta, std = np.ravel(info["beta"]), np.ravel(info["std_beta"])
    dof = n_obs - (len(beta) + 2)
    t_crit = student_t_ppf(1 - 0.025, dof)
    t_stat = beta / std
    return {
        "variable": X_columns,
        "coef": beta,
        "sd_err": std,
        "t": t_stat,
        "p_value": student_t_sf(np.abs(t_stat), dof),
        "ci_low": beta - t_crit * std,
        "ci_high": beta + t_crit * std,
    }


def regression_report_frame(
    X_columns: list[str], info: dict, n_obs: int
) -> pd.DataFrame:
    """GLS diagnostics as a small DataFrame (replaces the reference's stdout
    report, ts_disagg.py:179-210): one row per indicator with coef, sd err,
    t, p-value and the 95% CI."""
    return pd.DataFrame(_report_columns(X_columns, info, n_obs))


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
    None), ``n_obs``.  Only ``target_column`` enters the solve.

    ``compute_report=False`` skips building the diagnostics DataFrame (the
    t-quantile continued fractions are a measurable cost per series).
    """
    if isinstance(low_freq_df, pd.Series):
        low_freq_df = low_freq_df.to_frame()

    target_column = target_column or low_freq_df.columns[0]
    if target_column not in low_freq_df.columns:
        raise ValueError(f"target_column {target_column!r} is not a column of low_freq_df")
    target_pos = int(np.flatnonzero(low_freq_df.columns == target_column)[0])

    high_df, arrays, low_freq = _frame_arrays(low_freq_df, target_pos, high_freq_df)
    ts, y_hat, result, info, low_code = _disaggregate_arrays(
        *arrays, method=method, agg_func=agg_func, criterion=criterion, h=h,
        target_freq=target_freq, optimizer_kwargs=optimizer_kwargs, low_freq=low_freq,
    )

    report = None
    if info and (compute_report or verbose):
        report = regression_report_frame(list(high_df.columns), info, len(ts))
        if verbose:
            # the reference renames the first low column only (ts_disagg.py:276-283)
            label = f"{freq.family(low_code)}_{target_column}" if target_pos == 0 else target_column
            print(f"Dependent Variable: {label}")
            print(f"GLS Estimates using {method.title()}'s covariance matrix")
            print(report.to_string(index=False))
            print(f"rho = {info['rho']:.4f}  sigma.sq = {info['sigma2']:.4f}")

    index = _companion_index(ts, low_freq_df) if high_df is None else high_df.index.copy(deep=True)
    index.freq = freq.infer_code(ts)
    return {
        "output": pd.Series(y_hat, index=index, name=target_column),
        "result": result,
        "info": info,
        "report": report,
        "n_obs": len(ts),
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
