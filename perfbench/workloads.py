"""Worker warm-up, one timed *pass* of a fleet workload, its correctness
check, and the in-process replay used by traced runs.

A pass is one closed-loop request: the benchmark submits it, waits for the
result, and only then submits the next.  A pass solves one input block with
:func:`tsdisagg_spark.spark.disagg.disaggregate` and verifies it in the
SAME action: one aggregate over the kernel output checks ``C @ y_hat = y``
for every series-year and the output row count of every series, so nothing
is solved twice.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np
import pandas as pd

from perfbench.probes import no_span

#: relative tolerance of the re-aggregation check C @ y_hat = y
REAGG_RTOL = 1e-6


def expected(block_dir: str) -> dict:
    """What a correct solve of one block returns: the yearly targets per
    ``(series_id, year)`` and the output row count per series."""
    import pyarrow.parquet as pq

    low = pq.read_table(os.path.join(block_dir, "low.parquet")).to_pandas()
    exp = pq.read_table(os.path.join(block_dir, "expect.parquet")).to_pandas()
    return {
        "targets": pd.DataFrame({
            "series_id": low["series_id"].to_numpy(),
            "yr": low["ts"].dt.year.to_numpy(),
            "y": low["y"].to_numpy(),
        }),
        "rows": exp.set_index("series_id")["n_rows"],
    }


def check(sums: pd.DataFrame, exp: dict) -> dict:
    """Verify one block's ``(series_id, yr, s, m)`` sums of ``y_hat``
    against :func:`expected`.  A series is ok when its output has exactly
    the expected rows and every target year has 12 months summing to the
    target (``C @ y_hat = y``)."""
    rows = sums.groupby("series_id")["m"].sum().reindex(exp["rows"].index, fill_value=0)
    t = exp["targets"].merge(sums, on=["series_id", "yr"], how="left")
    rel_err = (t["s"] - t["y"]).abs() / np.maximum(1.0, t["y"].abs())
    year_ok = (t["m"] == 12) & (rel_err <= REAGG_RTOL)
    years_ok = year_ok.groupby(t["series_id"]).all().reindex(rows.index, fill_value=False)
    ok = (rows == exp["rows"]) & years_ok
    err = rel_err.max()
    return {
        "attempted": int(len(ok)),
        "ok": int(ok.sum()),
        "max_rel_err": float(err) if np.isfinite(err) else math.inf,
    }


def fleet_pass(spark, block_dir: str, exp: dict, span=no_span) -> dict:
    """Solve one block and verify it with one aggregate over the kernel
    output (its ``(series, year)`` sums and month counts), checked on the
    benchmark process against ``exp`` (:func:`expected`).  ``span`` (a tracer's span
    factory) wraps the ``disaggregate`` call, which builds the plan."""
    from pyspark.sql import functions as F

    from tsdisagg_spark.spark.disagg import disaggregate

    low = spark.read.parquet(os.path.join(block_dir, "low.parquet"))
    ind = spark.read.parquet(os.path.join(block_dir, "ind.parquet"))
    t0 = time.perf_counter()
    with span("spark.disagg.disaggregate"):
        out = disaggregate(low, ind, method="chow-lin", agg_func="sum", errors="skip")
    plan_build_s = time.perf_counter() - t0
    sums = (
        out.groupBy("series_id", F.year("ts").alias("yr"))
        .agg(F.sum("y_hat").alias("s"), F.count(F.lit(1)).alias("m"))
        .toPandas()
    )
    res = check(sums, exp)
    return {**res, "series": res["ok"], "plan_build_s": plan_build_s}


def warm_up(spark, warm_dir: str) -> None:
    """The session's first grouped-map call: one pass over a small block.
    It starts the Python worker pool, imports the package on every worker
    and compiles the pass's query plan, so timed passes start warm."""
    res = fleet_pass(spark, warm_dir, expected(warm_dir))
    if res["ok"] != res["attempted"]:
        raise RuntimeError(f"warm-up pass failed its check: {res}")


def _frames(series: dict) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The (low, indicator) frames a grouped-map worker builds for one
    series (Arrow hands timestamps to pandas in nanoseconds)."""
    lo = pd.DataFrame(
        {"y": series["y"]},
        index=pd.DatetimeIndex(series["low_ts"].astype("datetime64[ns]")),
    )
    hi = pd.DataFrame(
        {"x1": series["x1"], "intercept": np.ones(len(series["x1"]))},
        index=pd.DatetimeIndex(series["ind_ts"].astype("datetime64[ns]")),
    )
    return lo, hi


def replay(series_list: list[dict], sample: int, seed: int, span) -> dict[str, list[float]]:
    """Single-thread replay of a seeded sample of series, in workload order,
    timing each public function the grouped-map kernel runs per series.

    The first kernel call on a series is ``kernels.solve_series``, so it
    meets the V0 cache in the state the workload leaves it (cold on
    ``fleet_ragged``, warm on ``fleet_uniform``); the calls after it on the
    same series run warm.  ``kernels.fit`` and ``kernels.distribute`` time
    the path ``solve_series`` takes: ``fit_rho_sigma`` and
    ``distribution_matrix`` below ``BANDED_THRESHOLD`` points,
    ``chow_lin_banded_fit`` and the fixed-rho ``chow_lin_banded_solve`` at
    or above it.  ``banded`` holds 1.0 per series on the banded path, else
    0.0."""
    from tsdisagg_spark import disagg, frequency, kernels

    rng = np.random.default_rng([97, int(seed)])
    k = min(sample, len(series_list))
    picks = sorted(rng.choice(len(series_list), size=k, replace=False))
    times: dict[str, list[float]] = {
        "frequency.infer_code": [], "disagg.prepare_inputs": [],
        "kernels.conversion_matrix": [], "kernels.solve_series": [],
        "kernels.fit": [], "kernels.distribute": [],
        "disagg.disaggregate_full": [], "banded": [],
    }

    def timed(name, fn, *args, **kw):
        with span(name):
            t0 = time.perf_counter()
            res = fn(*args, **kw)
            times[name].append((time.perf_counter() - t0) * 1e3)
        return res

    cov = kernels.COVARIANCE_BUILDERS["chow-lin"]
    for i in picks:
        lo, hi = _frames(series_list[i])
        with span("replay.series", series_id=series_list[i]["series_id"]):
            timed("frequency.infer_code", frequency.infer_code, lo.index)
            merged, low_df, high_df, factor, low_code, _hc = timed(
                "disagg.prepare_inputs", disagg.prepare_inputs, lo, hi, None, "chow-lin"
            )
            fam = "yearly" if frequency.family(low_code) == "yearly" else "quarterly"
            C = timed(
                "kernels.conversion_matrix", kernels.conversion_matrix,
                kernels.period_labels(low_df.index, fam),
                kernels.period_labels(high_df.index, fam), factor, "sum",
            )
            covered = C.any(axis=1)
            y = merged.iloc[:, 0].dropna().to_numpy()[covered]
            C = C[covered, :]
            X = merged.drop(columns=[merged.columns[0]]).to_numpy(dtype=float)
            timed("kernels.solve_series", kernels.solve_series, y, X, C, "chow-lin")
            banded = X.shape[0] >= kernels.BANDED_THRESHOLD
            times["banded"].append(float(banded))
            if banded:
                _y_hat, fit, _info = timed("kernels.fit", kernels.chow_lin_banded_fit, y, X, C)
                timed("kernels.distribute", kernels.chow_lin_banded_solve, y, X, C, fit.x[0])
            else:
                fit = timed("kernels.fit", kernels.fit_rho_sigma, y, X, C, cov)
                sigma = cov(fit.x[0], fit.x[1], X.shape[0])
                timed("kernels.distribute", kernels.distribution_matrix, sigma, C)
            timed(
                "disagg.disaggregate_full", disagg.disaggregate_full, lo, hi,
                method="chow-lin", verbose=False, compute_report=False,
            )
    return times
