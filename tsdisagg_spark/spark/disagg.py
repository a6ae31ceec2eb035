"""Distributed multi-series temporal disaggregation.

Targets and indicators are unioned with a source tag
(:func:`_tagged_union`) and solved by one grouped-map kernel stage
(:func:`_kernel_stage`) behind both entry points: :func:`disaggregate`
emits each series' high-frequency path and :func:`fit_reports` its
regression report.  The stage takes each series as an Arrow table, reads
its columns as numpy arrays and hands them to the pandas API's own array
core (:func:`tsdisagg_spark.disagg._disaggregate_arrays`), golden-tested
against R ``tempdisagg``; its output goes back as one Arrow table per
series, so no pandas object exists on the Spark path.  Stamps are read and
written on the session time zone's wall clock.  The call's arguments are
checked once, on the driver, before the plan is built; inside the stage
only a series' data can fail it.

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
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from tsdisagg_spark import frequency as freq
from tsdisagg_spark import kernels
from tsdisagg_spark.disagg import _NO_INDICATORS, _disaggregate_arrays, _report_columns

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
    aligning schemas with explicit null columns (no join — see module doc).
    Stamps become session-zoned TIMESTAMP whatever ``spark.sql.timestampType``."""
    ind_cols: list[str] = []
    if indicators is not None:
        ind_cols = [
            c for c in indicators.columns if c not in (series_col, ts_col)
        ]

    low_part = low.select(
        F.col(series_col),
        F.col(ts_col).cast(T.TimestampType()).alias(ts_col),
        F.col(value_col).cast("double").alias(value_col),
        *[F.lit(None).cast("double").alias(c) for c in ind_cols],
        F.lit(_SRC_LOW).alias(_TAG),
    )
    if indicators is None:
        return low_part, ind_cols

    ind_part = indicators.select(
        F.col(series_col),
        F.col(ts_col).cast(T.TimestampType()).alias(ts_col),
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
    rows.  Each series arrives as an Arrow table whose stamps are instants
    in the session time zone; the stage reads their wall-clock time, and
    one argsort on it splits the series into numpy columns for the array
    core, which solves it with ``solve_kw``.  The output stamps go back to
    instants in that zone (a fall-back hour's ambiguous wall time on
    standard time, as ``applyInPandas`` does), then
    ``emit(ts, y_hat, info, indicator_names)`` returns the ``schema_tail``
    columns as a dict of equal-length arrays, and the stage prepends the
    series key.  A call mistake (``errors``,
    :func:`kernels._check_method_args` over ``solve_kw``, ``target_freq``'s
    family, a regression method without indicator columns) raises here, on
    the driver, under both ``errors`` modes.  A series whose data fail
    raises an error naming it, or under ``errors='skip'`` yields no rows.

    The stage is CPU-bound, not byte-bound: AQE would coalesce its byte-tiny
    shuffle to one or two tasks and serialize the solves.  An explicit
    ``repartition(n, series_col)`` is exempt from coalescing and satisfies
    the grouped-map distribution, so it is the plan's only exchange
    (REPARTITION_BY_NUM; 3.2x on 1000 series / 32 cores).  ``n`` is one
    partition per core: each Python task pays a fixed cost (~35 ms per
    task for a no-op ``applyInArrow`` stage on local[4]: 4, 16 and 64
    partitions in 0.20, 0.44 and 0.77 s), and hash-partitioned load
    self-averages (900 series in one call on local[4]: 4 partitions
    1.50 s, 16 partitions 1.88 s)."""
    if errors not in ("raise", "skip"):
        raise ValueError("errors must be 'raise' or 'skip'")
    kernels._check_method_args(**{k: v for k, v in solve_kw.items() if k != "target_freq"})
    if solve_kw.get("target_freq") is not None:
        freq.family(solve_kw["target_freq"])
    if not ind_cols and solve_kw["method"] in kernels.REGRESSION_METHODS:
        raise ValueError(_NO_INDICATORS)
    schema = T.StructType(
        [T.StructField(series_col, unioned.schema[series_col].dataType), *schema_tail]
    )
    arrow_schema = to_arrow_schema(schema)

    def run_group(key: tuple, table: pa.Table) -> pa.Table:
        sid = key[0].as_py()
        try:
            stamps = table.column(ts_col)
            ts = pc.local_timestamp(stamps).to_numpy()
            order = np.argsort(ts, kind="stable")
            ts = ts[order]
            is_low = table.column(_TAG).to_numpy()[order] == _SRC_LOW
            y = table.column(value_col).to_numpy()[order][is_low]
            high_ts = X = None
            names: list[str] = []
            if ind_cols:
                X = np.column_stack([table.column(c).to_numpy() for c in ind_cols])[order][~is_low]
                # drop all-null columns so mixed fleets (some series with
                # k=1, some k=2) can share one input
                keep = ~np.isnan(X).all(axis=0)
                names = [c for c, kept in zip(ind_cols, keep) if kept]
                X, high_ts = (X[:, keep], ts[~is_low]) if names else (None, None)
            out_ts, y_hat, _result, info, _code = _disaggregate_arrays(
                ts[is_low], y, high_ts, X, **solve_kw
            )
            out_ts = pc.assume_timezone(pa.array(out_ts), stamps.type.tz, ambiguous="latest")
            out = emit(out_ts, y_hat, info, names)
        except Exception as exc:  # noqa: BLE001 — per-series isolation
            if errors == "skip":
                return arrow_schema.empty_table()
            raise RuntimeError(f"disaggregation failed for series {sid!r}: {exc}") from exc
        n = len(next(iter(out.values())))
        return pa.Table.from_pydict({series_col: [sid] * n, **out}, schema=arrow_schema)

    width = unioned.sparkSession.sparkContext.defaultParallelism
    unioned = unioned.repartition(width, series_col)
    return unioned.groupBy(series_col).applyInArrow(run_group, schema=schema)


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
        ``'skip'`` drops series whose data fail the solve instead of failing
        the job — at millions of series one malformed group should not kill
        a 1000-executor stage.  A dropped series leaves no record: it is
        simply absent from the output.  A null target value fails its
        series, as a missing value fails the single-series API.  A call
        mistake (say an unknown method or h < 0) is no series' failure: it
        raises from this call, on the driver, under both modes.

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
    series_col: str = "series_id",
    ts_col: str = "ts",
    value_col: str = "y",
    errors: str = "raise",
    **solve_kw,
) -> DataFrame:
    """:func:`disaggregate` over an ALREADY-TAGGED union frame (shape as in
    :func:`_kernel_stage`), ``solve_kw`` being its method arguments.

    Callers that can DERIVE the union in one pass over a shared upstream
    aggregate (e.g. via grouping sets) use this entry point so the shared
    subtree has exactly ONE consumer in the physical plan — the separate
    low/indicator legs of the internal union otherwise race to materialize
    a cold cached upstream and compute it once per leg (measured: the
    lineitem month aggregation ran 2-4x per action in
    disagg_chow_lin_suppliers before the round-14 restructure)."""
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
    (ts_disagg.py:179-210), queryable instead of printed.  Regression
    methods only: a Denton method, like any other call mistake, raises from
    this call on the driver.  A series whose fit fails fails the job with
    an error naming it."""
    if method in ("denton", "denton-cholette"):
        raise ValueError(
            f"fit_reports needs a regression method: 'chow-lin' or 'litterman'. Got {method}."
        )

    def emit(ts, _y_hat, info, names) -> dict:
        fill = {v: np.full(len(names), info[v]) for v in ("rho", "sigma2")}
        return {**_report_columns(names, info, len(ts)), **fill}

    solve_kw = dict(method=method, agg_func=agg_func, optimizer_kwargs=optimizer_kwargs)
    unioned, ind_cols = _tagged_union(low, indicators, series_col, ts_col, value_col)
    return _kernel_stage(
        unioned, ind_cols, solve_kw, emit, _REPORT_SCHEMA_TAIL,
        series_col=series_col, ts_col=ts_col, value_col=value_col,
    )
