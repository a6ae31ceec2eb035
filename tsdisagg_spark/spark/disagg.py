"""Distributed multi-series temporal disaggregation.

Architecture (Spark-first, not a port):

* The *relational* half — merging target and indicator observations, period
  labelling, coverage checks — is declared with DataFrame operations so
  Catalyst handles pushdown/pruning.
* The *dense* half — constraint matrix, covariances, GLS, ML fit — runs as a
  grouped-map pandas UDF (``applyInPandas``) per series: each group is one
  series' few hundred rows, Arrow-transferred, solved with the exact same
  pure-NumPy kernels that are golden-tested against R ``tempdisagg``
  (:mod:`tsdisagg_spark.kernels`, :mod:`tsdisagg_spark.disagg`).
* One kernel stage (:func:`_kernel_stage`) serves both entry points:
  :func:`disaggregate` emits each series' high-frequency path and
  :func:`fit_reports` its regression report, over the same repartition,
  per-series split and error isolation, and solve each series' numpy
  columns with the pandas API's own array core.

Scale design — the whole plan has exactly ONE shuffle:

Instead of ``low FULL OUTER JOIN indicators ON (series, ts)`` followed by
``groupBy(series)`` (two exchanges: one on (series, ts), one on (series)),
the two inputs are *unioned* with a source tag and hash-partitioned once on
``series_id``.  Inside the kernel the per-series merge is a subset test of
the target stamps against the indicator stamps.  At 100 TB / millions of
series this halves shuffle volume and removes the join's sort entirely;
skewed series are bounded by the largest single series (the one
regression path is linear in series length, O(n_low) per rho).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsdisagg_spark.disagg import _disaggregate_arrays, _report_columns

_SRC_LOW, _SRC_IND = 0, 1
_TAG = "__src"


def _tagged_union(
    low: DataFrame,
    indicators: DataFrame | None,
    series_col: str,
    ts_col: str,
    value_col: str,
) -> tuple[DataFrame, list[str]]:
    """Union target and indicator rows into one long frame with a source tag,
    aligning schemas with explicit null columns (no join — see module doc)."""
    ind_cols: list[str] = []
    if indicators is not None:
        ind_cols = [
            c for c in indicators.columns if c not in (series_col, ts_col)
        ]

    low_part = low.select(
        F.col(series_col),
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(value_col).cast("double").alias(value_col),
        *[F.lit(None).cast("double").alias(c) for c in ind_cols],
        F.lit(_SRC_LOW).alias(_TAG),
    )
    if indicators is None:
        return low_part, ind_cols

    ind_part = indicators.select(
        F.col(series_col),
        F.col(ts_col).cast("timestamp").alias(ts_col),
        F.lit(None).cast("double").alias(value_col),
        *[F.col(c).cast("double").alias(c) for c in ind_cols],
        F.lit(_SRC_IND).alias(_TAG),
    )
    return low_part.unionByName(ind_part), ind_cols


def _kernel_stage(
    unioned: DataFrame,
    ind_cols: list[str],
    solve_kw: dict,
    emit,
    schema_tail: list[T.StructField],
    *,
    series_col: str,
    ts_col: str,
    value_col: str,
    errors: str = "raise",
) -> DataFrame:
    """The one grouped-map kernel stage behind :func:`disaggregate` and
    :func:`fit_reports`.

    ``unioned`` has :func:`_tagged_union`'s shape: ``(series_col, ts_col
    TIMESTAMP, value_col DOUBLE, *ind_cols DOUBLE, _TAG INT)``, with
    ``value_col`` null on indicator rows and ``ind_cols`` null on target
    rows.  One argsort on the stamps splits each series into numpy columns
    for the array core, which solves it with ``solve_kw``;
    ``emit(ts, y_hat, info, indicator_names)`` returns the ``schema_tail``
    columns as a dict, or ``None`` for no rows, and the stage prepends the
    series key.  A failing series raises an error naming it, or under
    ``errors='skip'`` yields no rows.

    The stage is CPU-bound, not byte-bound: AQE would coalesce its byte-tiny
    shuffle to one or two tasks and serialize the solves.  An explicit
    ``repartition(n, series_col)`` is exempt from coalescing and satisfies
    the grouped-map distribution, so it is the plan's only exchange
    (REPARTITION_BY_NUM; 3.2x on 1000 series / 32 cores).  ``n`` is one
    partition per core: each task pays a fixed Arrow stream setup, and
    hash-partitioned load self-averages (938 series on local[32]: 32
    partitions 2.0s, 128 partitions 3.3s)."""
    if errors not in ("raise", "skip"):
        raise ValueError("errors must be 'raise' or 'skip'")
    schema = T.StructType(
        [T.StructField(series_col, unioned.schema[series_col].dataType), *schema_tail]
    )
    empty = pd.DataFrame(columns=schema.names)

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = pdf[series_col].iloc[0]
        try:
            ts = pdf[ts_col].to_numpy()
            order = np.argsort(ts, kind="stable")
            ts = ts[order]
            is_low = pdf[_TAG].to_numpy()[order] == _SRC_LOW
            y = pdf[value_col].to_numpy(dtype=float)[order][is_low]
            high_ts = X = None
            names: list[str] = []
            if ind_cols:
                X = pdf[ind_cols].to_numpy(dtype=float)[order][~is_low]
                # drop all-null columns so mixed fleets (some series with
                # k=1, some k=2) can share one input
                keep = ~np.isnan(X).all(axis=0)
                names = [c for c, kept in zip(ind_cols, keep) if kept]
                X, high_ts = (X[:, keep], ts[~is_low]) if names else (None, None)
            out_ts, y_hat, _result, info, _code = _disaggregate_arrays(
                ts[is_low], y, high_ts, X, **solve_kw
            )
            out = emit(out_ts, y_hat, info, names)
        except Exception as exc:  # noqa: BLE001 — per-series isolation
            if errors == "skip":
                return empty
            raise RuntimeError(f"disaggregation failed for series {sid!r}: {exc}") from exc
        if out is None:
            return empty
        return pd.DataFrame({series_col: sid, **out})

    width = unioned.sparkSession.sparkContext.defaultParallelism
    unioned = unioned.repartition(width, series_col)
    return unioned.groupBy(series_col).applyInPandas(run_group, schema=schema)


def disaggregate(
    low: DataFrame,
    indicators: DataFrame | None = None,
    *,
    method: str = "denton-cholette",
    agg_func: str = "sum",
    criterion: str = "proportional",
    h: int = 1,
    target_freq: str | None = None,
    optimizer_kwargs: dict | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "y",
    errors: str = "raise",
) -> DataFrame:
    """Disaggregate many low-frequency series to a higher frequency at once.

    Parameters
    ----------
    low : DataFrame ``(series_col, ts_col, value_col)``
        Long-format low-frequency targets, one row per (series, period stamp).
    indicators : DataFrame ``(series_col, ts_col, x1, ..., xk)``, optional
        High-frequency indicator columns per series.  When omitted the
        companion timeline is synthesized per series (Denton-family only),
        exactly as the single-series API does; ``target_freq`` is then
        required unless each series' frequency can be stepped down
        automatically.
    errors : ``'raise'`` | ``'skip'``
        ``'skip'`` drops series whose solve fails instead of failing the job
        — at millions of series one malformed group should not kill a
        1000-executor stage.  A dropped series leaves no record: it is
        simply absent from the output.  A null target value fails its
        series, as a missing value fails the single-series API.

    Returns
    -------
    DataFrame ``(series_col, ts_col, y_hat)`` on the high-frequency axis.
    """
    unioned, ind_cols = _tagged_union(low, indicators, series_col, ts_col, value_col)
    return _disaggregate_unioned(
        unioned,
        ind_cols,
        method=method,
        agg_func=agg_func,
        criterion=criterion,
        h=h,
        target_freq=target_freq,
        optimizer_kwargs=optimizer_kwargs,
        series_col=series_col,
        ts_col=ts_col,
        value_col=value_col,
        errors=errors,
    )


def _disaggregate_unioned(
    unioned: DataFrame,
    ind_cols: list[str],
    *,
    method: str,
    agg_func: str,
    criterion: str = "proportional",
    h: int = 1,
    target_freq: str | None = None,
    optimizer_kwargs: dict | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "y",
    errors: str = "raise",
) -> DataFrame:
    """:func:`disaggregate` over an ALREADY-TAGGED union frame (shape as in
    :func:`_kernel_stage`).

    Callers that can DERIVE the union in one pass over a shared upstream
    aggregate (e.g. via grouping sets) use this entry point so the shared
    subtree has exactly ONE consumer in the physical plan — the separate
    low/indicator legs of the internal union otherwise race to materialize
    a cold cached upstream and compute it once per leg (measured: the
    lineitem month aggregation ran 2-4x per action in
    disagg_chow_lin_suppliers before the round-14 restructure)."""
    solve_kw = dict(
        method=method, agg_func=agg_func, criterion=criterion, h=h,
        target_freq=target_freq, optimizer_kwargs=optimizer_kwargs,
    )
    tail = [T.StructField(ts_col, T.TimestampType()), T.StructField("y_hat", T.DoubleType())]
    return _kernel_stage(
        unioned, ind_cols, solve_kw, lambda ts, y_hat, _info, _names: {ts_col: ts, "y_hat": y_hat},
        tail, series_col=series_col, ts_col=ts_col, value_col=value_col, errors=errors,
    )


_REPORT_SCHEMA_TAIL = [
    T.StructField("variable", T.StringType()),
    T.StructField("coef", T.DoubleType()),
    T.StructField("sd_err", T.DoubleType()),
    T.StructField("t", T.DoubleType()),
    T.StructField("p_value", T.DoubleType()),
    T.StructField("ci_low", T.DoubleType()),
    T.StructField("ci_high", T.DoubleType()),
    T.StructField("rho", T.DoubleType()),
    T.StructField("sigma2", T.DoubleType()),
]


def fit_reports(
    low: DataFrame,
    indicators: DataFrame,
    *,
    method: str = "chow-lin",
    agg_func: str = "sum",
    optimizer_kwargs: dict | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "y",
) -> DataFrame:
    """Per-series GLS regression diagnostics as a DataFrame
    ``(series, variable, coef, sd_err, t, p_value, ci_low, ci_high, rho,
    sigma2)`` — the engine's replacement for the reference's stdout report
    (ts_disagg.py:179-210), queryable instead of printed.  A series whose
    fit fails fails the job with an error naming it."""

    def emit(ts, _y_hat, info, names) -> dict | None:
        if not info:
            return None
        return {**_report_columns(names, info, len(ts)), "rho": info["rho"], "sigma2": info["sigma2"]}

    solve_kw = dict(method=method, agg_func=agg_func, optimizer_kwargs=optimizer_kwargs)
    unioned, ind_cols = _tagged_union(low, indicators, series_col, ts_col, value_col)
    return _kernel_stage(
        unioned, ind_cols, solve_kw, emit, _REPORT_SCHEMA_TAIL,
        series_col=series_col, ts_col=ts_col, value_col=value_col,
    )
