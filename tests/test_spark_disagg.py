"""Distributed disaggregation parity: the Spark grouped-kernel path must
reproduce the (golden-tested) single-series pandas API per series."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsdisagg_spark import disaggregate_series
from tsdisagg_spark.spark.disagg import disaggregate, fit_reports

DATA = "/root/reference/tests/data"


def _reference_sources():
    """The reference's sales/exports fixtures: 36 yearly targets from 1975
    and a quarterly indicator from 1972."""
    sales = pd.read_csv(f"{DATA}/sales_a.csv", index_col=0)
    sales.index = pd.date_range("1975-01-01", freq="YS", periods=len(sales))
    sales.columns = ["y"]
    exports = pd.read_csv(f"{DATA}/exports_q.csv", index_col=0)
    exports.index = pd.date_range("1972-01-01", freq="QS-OCT", periods=len(exports))
    exports.columns = ["x1"]
    return sales, exports


def _synthetic_sources(seed=7):
    """Seeded stand-in of the reference's shape: 36 ``YS`` targets from 1975
    and a ``QS-OCT`` indicator from 1972 covering them.  The target is twice
    the indicator's yearly sum plus a random-walk disturbance, so the
    Chow-Lin fit finds a positive autocorrelation."""
    rng = np.random.default_rng(seed)
    quarters = pd.date_range("1972-01-01", "2010-10-01", freq="QS-OCT")
    trend = 100.0 + 1.5 * np.arange(len(quarters))
    x1 = trend + rng.normal(0.0, 4.0, len(quarters))
    exports = pd.DataFrame({"x1": x1}, index=quarters)
    years = pd.date_range("1975-01-01", freq="YS", periods=36)
    in_years = exports.loc["1975":"2010", "x1"]
    yearly = in_years.groupby(in_years.index.year).sum().to_numpy()
    drift = np.cumsum(rng.normal(0.0, 25.0, len(years)))
    sales = pd.DataFrame({"y": 2.0 * yearly + drift}, index=years)
    return sales, exports


def _long_frames(spark, sales, exports):
    """Five series derived from one target/indicator pair by deterministic
    scaling, in long format, with their pandas twins."""
    low_rows, ind_rows, locals_ = [], [], {}
    for i in range(5):
        scale = 1.0 + 0.25 * i
        sid = f"s{i}"
        low_i = sales["y"] * scale
        ind_i = exports["x1"] * (1.0 + 0.1 * i)
        locals_[sid] = (low_i, ind_i)
        low_rows.append(
            pd.DataFrame({"series_id": sid, "ts": low_i.index, "y": low_i.to_numpy()})
        )
        ind_rows.append(
            pd.DataFrame(
                {
                    "series_id": sid,
                    "ts": ind_i.index,
                    "x1": ind_i.to_numpy(),
                    "intercept": 1.0,
                }
            )
        )

    low_sdf = spark.createDataFrame(pd.concat(low_rows, ignore_index=True))
    ind_sdf = spark.createDataFrame(pd.concat(ind_rows, ignore_index=True))
    return low_sdf, ind_sdf, locals_


@pytest.fixture(scope="module", params=["reference", "synthetic"])
def multi_series(spark, request):
    """Five series scaled from the reference fixtures or from their seeded
    synthetic twin, in long format."""
    sources = _reference_sources if request.param == "reference" else _synthetic_sources
    return _long_frames(spark, *sources())


@pytest.fixture(scope="module")
def synthetic_series(spark):
    """The synthetic member of :func:`multi_series`, for tests that need no
    reference twin."""
    return _long_frames(spark, *_synthetic_sources())


def _collect_by_series(sdf):
    pdf = sdf.toPandas()
    return {
        sid: grp.sort_values("ts").set_index("ts")["y_hat"]
        for sid, grp in pdf.groupby("series_id")
    }


def test_spark_matches_pandas_chow_lin(multi_series):
    low_sdf, ind_sdf, locals_ = multi_series
    got = _collect_by_series(
        disaggregate(low_sdf, ind_sdf, method="chow-lin", agg_func="sum")
    )
    assert set(got) == set(locals_)
    for sid, (low_i, ind_i) in locals_.items():
        expected = disaggregate_series(
            low_i.to_frame(),
            ind_i.to_frame().assign(intercept=1.0),
            method="chow-lin",
            agg_func="sum",
            verbose=False,
        )
        np.testing.assert_allclose(
            got[sid].to_numpy(), expected.to_numpy(), rtol=1e-10
        )
        assert got[sid].index.equals(expected.index)


def test_spark_companion_path_denton(multi_series, spark):
    low_sdf, _ind, locals_ = multi_series
    got = _collect_by_series(
        disaggregate(low_sdf, method="denton", agg_func="sum", target_freq="QS")
    )
    for sid, (low_i, _unused) in locals_.items():
        expected = disaggregate_series(
            low_i.to_frame(), method="denton", agg_func="sum", target_freq="QS"
        )
        np.testing.assert_allclose(
            got[sid].to_numpy(), expected.to_numpy(), rtol=1e-10
        )
        assert got[sid].index.equals(expected.index)
        # aggregation constraint holds through the distributed path
        yearly = got[sid].groupby(got[sid].index.year).sum()
        np.testing.assert_allclose(
            yearly.loc[1975:2010].to_numpy(), low_i.to_numpy(), rtol=1e-8
        )


def test_spark_errors_skip(multi_series, spark):
    low_sdf, ind_sdf, _ = multi_series
    # poison one series: drop most of its rows so frequency inference fails
    poisoned = low_sdf.filter(
        ~((F.col("series_id") == "s0") & (F.year("ts") % 2 == 0))
    )
    out = disaggregate(poisoned, ind_sdf, method="chow-lin", agg_func="sum",
                       errors="skip")
    sids = {r["series_id"] for r in out.select("series_id").distinct().collect()}
    assert sids == {"s1", "s2", "s3", "s4"}

    with pytest.raises(Exception, match="series"):
        disaggregate(poisoned, ind_sdf, method="chow-lin", errors="raise").count()


def test_spark_errors_skip_all_series_fail(synthetic_series):
    """When every series fails under errors='skip' the result is an empty
    frame of the declared schema, not an error."""
    low_sdf, ind_sdf, _ = synthetic_series
    poisoned = low_sdf.filter(F.year("ts") % 2 == 1)
    out = disaggregate(poisoned, ind_sdf, method="chow-lin", agg_func="sum",
                       errors="skip")
    assert out.schema.simpleString() == (
        "struct<series_id:string,ts:timestamp,y_hat:double>"
    )
    got = out.toPandas()
    assert got.empty
    assert list(got.columns) == ["series_id", "ts", "y_hat"]


def _mixed_fleet():
    """One healthy six-year chow-lin series plus one series per input the
    kernel rejects, in long format: ``late`` (indicator starts after the
    target), ``gap`` (a missing month), ``hole`` (a missing low year),
    ``two`` (two low periods: no inferable frequency) and ``collinear`` (a
    constant indicator beside the intercept: ``LinAlgError``)."""
    rng = np.random.default_rng(5)
    years = pd.date_range("2000-01-01", periods=6, freq="YS")
    months = pd.date_range("2000-01-01", periods=72, freq="MS")
    shapes = {  # series -> (low stamps, indicator stamps)
        "healthy": (years, months),
        "late": (years, months[2:]),
        "gap": (years, months.delete(29)),
        "hole": (years.delete(2), months),
        "two": (years[1:3], months),
        "collinear": (years, months),
    }
    low, ind = [], []
    for sid, (ts_low, ts_ind) in shapes.items():
        n = len(ts_ind)
        x1 = 3.0 if sid == "collinear" else rng.uniform(1, 3, n) + np.linspace(0, 2, n)
        y = rng.uniform(200, 400, len(ts_low))
        low.append(pd.DataFrame({"series_id": sid, "ts": ts_low, "y": y}))
        ind.append(
            pd.DataFrame({"series_id": sid, "ts": ts_ind, "x1": x1, "intercept": 1.0})
        )
    return pd.concat(low, ignore_index=True), pd.concat(ind, ignore_index=True)


def test_spark_errors_semantics_mixed_fleet(spark):
    """``errors='skip'`` returns only the series the kernel can solve, each
    meeting C·ŷ = y; ``errors='raise'`` fails on each rejected series alone
    with an error naming it.  The disaggregation queries rely on this gate
    to drop ineligible series."""
    low_pdf, ind_pdf = _mixed_fleet()
    low, ind = spark.createDataFrame(low_pdf), spark.createDataFrame(ind_pdf)

    got = disaggregate(low, ind, method="chow-lin", errors="skip").toPandas()
    assert set(got["series_id"]) == {"healthy"}
    y_hat = got.set_index("ts")["y_hat"].sort_index()
    want = low_pdf[low_pdf["series_id"] == "healthy"]["y"].to_numpy()
    np.testing.assert_allclose(
        y_hat.groupby(y_hat.index.year).sum().to_numpy(), want, rtol=1e-9
    )

    reasons = {
        "late": "Start date found on high frequency data",
        "gap": "Indicator data high_freq_df does not have a valid time index",
        "hole": "Low frequency dataframe does not have a valid time index",
        "two": "Low frequency dataframe does not have a valid time index",
        "collinear": "Singular matrix",
    }
    for sid, reason in reasons.items():
        one = F.col("series_id") == sid
        with pytest.raises(
            Exception,
            match=f"RuntimeError: disaggregation failed for series '{sid}': {reason}",
        ):
            disaggregate(
                low.filter(one), ind.filter(one), method="chow-lin", errors="raise"
            ).collect()


def test_fit_reports(multi_series):
    low_sdf, ind_sdf, _ = multi_series
    rep = fit_reports(low_sdf, ind_sdf, method="chow-lin", agg_func="sum").toPandas()
    # 5 series x 2 indicator columns
    assert len(rep) == 10
    assert set(rep["variable"]) == {"x1", "intercept"}
    assert (rep["sd_err"] > 0).all()
    assert rep["rho"].between(0, 1).all()


def test_fit_reports_failure_names_series(synthetic_series):
    """A series whose low frequency cannot be inferred (its even years are
    dropped) fails the fit_reports job with an error naming that series."""
    low_sdf, ind_sdf, _ = synthetic_series
    poisoned = low_sdf.filter(
        ~((F.col("series_id") == "s0") & (F.year("ts") % 2 == 0))
    )
    with pytest.raises(Exception, match="series 's0'"):
        fit_reports(poisoned, ind_sdf, method="chow-lin", agg_func="sum").collect()


def test_single_shuffle_plan(multi_series):
    """The distributed plans of disaggregate and fit_reports must each
    contain exactly one exchange: the explicit hash partition by series_id
    (REPARTITION_BY_NUM) feeding the grouped kernel."""
    low_sdf, ind_sdf, _ = multi_series
    for out in (
        disaggregate(low_sdf, ind_sdf, method="denton-cholette"),
        fit_reports(low_sdf, ind_sdf, method="chow-lin"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "REPARTITION_BY_NUM" in plan, plan


@pytest.fixture(params=["reference", "synthetic"])
def quarterly_csv(request, tmp_path):
    """A quarterly CSV with ``period`` as yyyy/M/d and blank ``Value`` rows:
    the reference fixture, or a seeded synthetic one written to tmp_path."""
    if request.param == "reference":
        return f"{DATA}/AL_Quarterly_Data_Modified.csv"
    rng = np.random.default_rng(11)
    stamps = pd.date_range("1990-01-01", periods=48, freq="QS")
    values = [f"{v:.2f}" for v in 500.0 + np.cumsum(rng.normal(5.0, 20.0, 44))]
    values += [""] * 4  # trailing periods without an observation
    path = tmp_path / "quarterly.csv"
    pd.DataFrame(
        {
            "period": [f"{ts.year}/{ts.month}/{ts.day}" for ts in stamps],
            "Value": values,
        }
    ).to_csv(path, index=False)
    return str(path)


def test_csv_source_ingest_and_disagg(spark, quarterly_csv):
    """S2/S3 through the Spark CSV source: read a quarterly CSV with
    spark.read.csv + to_date, then the result of the distributed path on it
    must equal the pandas API on the pandas-parsed twin."""
    src = quarterly_csv

    sdf = (
        spark.read.csv(src, header=True, inferSchema=True)
        .select(
            F.to_date("period", "yyyy/M/d").alias("ts"),
            F.col("Value").cast("double").alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    pdf_via_spark = sdf.toPandas().sort_values("ts").reset_index(drop=True)

    ppd = pd.read_csv(src)
    ppd["period"] = pd.to_datetime(ppd["period"], format="%Y/%m/%d")
    ppd = ppd.dropna(subset=["Value"]).reset_index(drop=True)
    assert len(pdf_via_spark) == len(ppd)
    assert (pdf_via_spark["y"].to_numpy() == ppd["Value"].to_numpy()).all()
    assert (
        pd.DatetimeIndex(pdf_via_spark["ts"]) == pd.DatetimeIndex(ppd["period"])
    ).all()

    # distributed denton-cholette on the CSV-sourced series (companion path)
    low = sdf.withColumn("series_id", F.lit("al"))
    got = (
        disaggregate(low, None, method="denton-cholette", target_freq="MS")
        .toPandas()
        .sort_values("ts")
    )
    ref_low = pd.DataFrame(
        {"y": ppd["Value"].to_numpy()},
        index=pd.DatetimeIndex(ppd["period"]),
    )
    want = disaggregate_series(ref_low, method="denton-cholette", target_freq="MS")
    np.testing.assert_allclose(got["y_hat"].to_numpy(), want.to_numpy(), rtol=1e-9)


def test_spark_period_exprs_match_kernel_labels(spark):
    """Layer-3 property re-expressed on the Spark path: the Catalyst period
    expressions must agree with the NumPy kernel labels over random dates
    for every family."""
    from tsdisagg_spark import kernels
    from tsdisagg_spark.spark import periods

    rng = np.random.default_rng(5)
    days = rng.integers(0, 365 * 40, size=500)
    stamps = pd.Timestamp("1970-01-01") + pd.to_timedelta(days, unit="D")
    sdf = spark.createDataFrame(pd.DataFrame({"ts": stamps}))

    # kernel labels exist only for families that can be a LOW frequency
    for family in ("yearly", "quarterly"):
        got = (
            sdf.select(periods.period_label(F.col("ts"), family).alias("lbl"))
            .toPandas()["lbl"]
            .to_numpy()
        )
        want = kernels.period_labels(pd.DatetimeIndex(stamps), family)
        np.testing.assert_array_equal(got, want)

    # the monthly expression (used for timelines, not constraints) against
    # the direct formula
    got_m = (
        sdf.select(periods.period_label(F.col("ts"), "monthly").alias("lbl"))
        .toPandas()["lbl"]
        .to_numpy()
    )
    idx = pd.DatetimeIndex(stamps)
    np.testing.assert_array_equal(got_m, (idx.year * 12 + idx.month - 1).to_numpy())

    # anchored period starts: month arithmetic vs pandas to_period on the
    # equivalent anchored frequency
    got = (
        sdf.select(
            periods.period_start(F.col("ts"), "yearly", anchor_month=10).alias("p")
        )
        .toPandas()["p"]
    )
    want = (
        pd.Series(pd.DatetimeIndex(stamps))
        .dt.to_period("Y-SEP")  # fiscal year Oct..Sep, labeled by end year
        .dt.start_time.dt.date
    )
    assert (pd.Series(got).to_numpy() == want.to_numpy()).all()


def test_streaming_disaggregate(spark, tmp_path, multi_series):
    """foreachBatch incremental recompute: streaming the low-frequency rows
    through the bridge must land the same per-series output in the sink as
    the batch path."""
    from tsdisagg_spark.streaming import latest_solutions, streaming_disaggregate

    low_sdf, ind_sdf, _ = multi_series
    src = str(tmp_path / "low_src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    low_sdf.write.parquet(src)

    stream = spark.readStream.schema(low_sdf.schema).parquet(src)
    q = (
        streaming_disaggregate(
            stream,
            ind_sdf,
            sink_path=sink,
            checkpoint_path=ckpt,
            method="chow-lin",
            agg_func="sum",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = (
        latest_solutions(spark, sink)
        .toPandas()
        .sort_values(["series_id", "ts"])
        .reset_index(drop=True)
    )
    want = (
        disaggregate(low_sdf, ind_sdf, method="chow-lin", agg_func="sum")
        .toPandas()
        .sort_values(["series_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["y_hat"].to_numpy(), want["y_hat"].to_numpy(), rtol=1e-9
    )


def test_business_month_end_matches_pandas(spark):
    """D7 snap expression vs pandas BMonthEnd over random dates: the last
    business day of each stamp's month must agree."""
    from tsdisagg_spark.spark import periods

    rng = np.random.default_rng(17)
    days = rng.integers(0, 365 * 30, size=400)
    stamps = pd.Timestamp("1995-01-01") + pd.to_timedelta(days, unit="D")
    sdf = spark.createDataFrame(pd.DataFrame({"ts": stamps}))
    got = (
        sdf.select(periods.business_month_end(F.col("ts")).alias("bme"))
        .toPandas()["bme"]
    )
    want = (
        pd.Series(stamps).dt.to_period("M").dt.to_timestamp()
        + pd.offsets.BMonthEnd(1)
    ).dt.date
    assert (pd.Series(got).to_numpy() == want.to_numpy()).all()


def test_kernel_stage_skew_and_error_isolation(spark):
    """The README's skew claim, tested at its shape: a fleet of 1000 short
    series plus ONE series 100x longer must finish in time bounded by the
    big series (the shorts drain in parallel around it — hash partitioning
    on series_id cannot serialize the fleet behind the straggler), and
    errors='skip' must isolate a malformed member without killing the job
    or perturbing anyone else's output."""
    import time

    years = pd.date_range("2000-01-01", freq="YS", periods=3)
    big_years = pd.date_range("1700-01-01", freq="YS", periods=300)  # 100x
    rows = [
        pd.DataFrame(
            {
                "series_id": f"s{i:04d}",
                "ts": years,
                "y": 100.0 + i + np.arange(len(years)),
            }
        )
        for i in range(1000)
    ]
    big = pd.DataFrame(
        {"series_id": "big", "ts": big_years, "y": 50.0 + np.arange(300.0)}
    )
    # malformed: all-NaN targets -> zero usable rows -> per-series solve fails
    bad = pd.DataFrame({"series_id": "bad", "ts": years, "y": np.nan})

    big_sdf = spark.createDataFrame(big)
    t0 = time.perf_counter()
    n_big = disaggregate(
        big_sdf, method="denton-cholette", agg_func="sum", target_freq="MS"
    ).count()
    t_big = time.perf_counter() - t0
    assert n_big == 3600  # 300 years x 12 months in one least-norm solve

    fleet = spark.createDataFrame(pd.concat(rows + [big, bad], ignore_index=True))
    t0 = time.perf_counter()
    out = disaggregate(
        fleet, method="denton-cholette", agg_func="sum", target_freq="MS",
        errors="skip",
    ).toPandas()
    t_fleet = time.perf_counter() - t0

    # error isolation: the malformed series vanishes, everyone else lands
    got = set(out["series_id"])
    assert "bad" not in got
    assert "big" in got
    assert len(got) == 1001
    # spot-check a short series is unperturbed: re-aggregation returns input
    s0 = out[out["series_id"] == "s0000"].set_index("ts")["y_hat"]
    reagg = s0.groupby(s0.index.year).sum()
    np.testing.assert_allclose(reagg.to_numpy(), 100.0 + np.arange(3.0), rtol=1e-8)

    # skew bound: serialized execution would cost ~1000 short solves ON TOP
    # of the big one (tens of seconds); parallel execution hides the shorts
    # behind the straggler.  Generous margin for shared-machine noise.
    assert t_fleet < 2.0 * t_big + 10.0, (
        f"kernel stage serialized behind the skewed series: "
        f"fleet {t_fleet:.1f}s vs big-alone {t_big:.1f}s"
    )


@pytest.mark.parametrize("null_at", [0, 2, 4], ids=["first", "middle", "last"])
def test_null_target_fails_its_series(spark, null_at):
    """A null target value fails its series with the pandas API's
    ``missing values`` error, wherever it sits: under ``'raise'`` the error
    names the series, under ``'skip'`` the series is absent and the others
    are untouched.  (Dropping the null row instead solved the series on a
    year fewer, or failed it as a bad time index.)"""
    years = pd.date_range("2000-01-01", freq="YS", periods=5)
    low = pd.DataFrame(
        {
            "series_id": np.repeat(["ok", "holed"], 5),
            "ts": np.tile(years, 2),
            "y": np.concatenate([100.0 + np.arange(5.0), 200.0 + np.arange(5.0)]),
        }
    )
    low.loc[5 + null_at, "y"] = np.nan
    low_sdf = spark.createDataFrame(low)
    kw = dict(method="denton-cholette", agg_func="sum", target_freq="QS")
    with pytest.raises(Exception, match=r"series 'holed'.*missing values"):
        disaggregate(low_sdf, **kw).collect()
    out = disaggregate(low_sdf, errors="skip", **kw).toPandas()
    assert set(out["series_id"]) == {"ok"}
    ok = out.sort_values("ts")
    want = disaggregate_series(
        low.iloc[:5].set_index("ts")[["y"]], verbose=False, **kw
    )
    assert np.array_equal(ok["y_hat"].to_numpy(), want.to_numpy())


def test_duplicate_low_stamps_raise_engine_error():
    """Duplicate low-frequency timestamps surface the engine's own
    frequency error: inference rejects a timeline with repeated stamps
    before any alignment of the target with the indicators runs."""
    import pandas as pd
    import numpy as np
    import pytest as _pytest
    from tsdisagg_spark.disagg import disaggregate_full

    low = pd.DataFrame(
        {"y": [1.0, 2.0, 3.0]},
        index=pd.to_datetime(["2000-01-01", "2000-01-01", "2001-01-01"]),
    )
    hi = pd.DataFrame(
        {"x": np.ones(36)},
        index=pd.date_range("2000-01-01", periods=36, freq="MS"),
    )
    with _pytest.raises(ValueError, match="valid time index with\\s+frequency"):
        disaggregate_full(low, hi, method="denton", verbose=False)


def test_streaming_disaggregate_restart_upserts(spark, tmp_path, multi_series):
    """Exactly-once resume + upsert semantics across a restart: after the
    first run commits, a second run with the SAME checkpoint processes
    only the newly-arrived file (a revised snapshot of one series), the
    revised series' latest solve wins in the sink, and every untouched
    series keeps its batch-1 output byte-for-byte (it is never
    re-solved or re-written)."""
    from tsdisagg_spark.streaming import latest_solutions, streaming_disaggregate

    low_sdf, ind_sdf, _ = multi_series
    src = str(tmp_path / "low_src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    low_sdf.write.parquet(src)

    def run_once():
        stream = spark.readStream.schema(low_sdf.schema).parquet(src)
        q = (
            streaming_disaggregate(
                stream, ind_sdf, sink_path=sink, checkpoint_path=ckpt,
                method="chow-lin", agg_func="sum",
            )
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(180)
        if not finished:  # timed out: stop and fail loudly, not downstream
            q.stop()
            raise AssertionError("streaming run did not finish in 180s")

    run_once()
    first = latest_solutions(spark, sink).toPandas()

    # revised snapshot for s0 only: +10% on every low observation
    rev = low_sdf.filter(F.col("series_id") == "s0").withColumn(
        "y", F.col("y") * 1.1
    )
    import glob
    import shutil

    rev_pdf = rev.toPandas()
    # write the revision with Spark itself so the parquet timestamp
    # physical type matches the original files, then drop the part file
    # into the watched source directory
    rev_dir = str(tmp_path / "rev_out")
    rev.coalesce(1).write.parquet(rev_dir)
    part = glob.glob(f"{rev_dir}/part-*.parquet")[0]
    shutil.copy(part, f"{src}/revision-s0.parquet")
    run_once()

    latest = latest_solutions(spark, sink).toPandas()
    assert set(latest["series_id"]) == set(first["series_id"])

    # untouched series byte-identical to batch 1 (never re-solved)
    for sid in ("s1", "s2", "s3", "s4"):
        a = first[first.series_id == sid].sort_values("ts")["y_hat"].to_numpy()
        b = latest[latest.series_id == sid].sort_values("ts")["y_hat"].to_numpy()
        np.testing.assert_array_equal(a, b)

    # the revised series re-solved against the new snapshot: re-aggregation
    # reproduces the REVISED yearly totals (+10%), not the originals
    s0 = latest[latest.series_id == "s0"].sort_values("ts")
    reagg = s0.set_index("ts")["y_hat"].groupby(lambda t: t.year).sum()
    rev_low = rev_pdf.set_index("ts")["y"].groupby(lambda t: t.year).sum()
    common = reagg.index.intersection(rev_low.index)
    # restrict to fully-covered years (same contract as the batch path)
    np.testing.assert_allclose(
        reagg.loc[common][1:-1].to_numpy(),
        rev_low.loc[common][1:-1].to_numpy(),
        rtol=1e-8,
    )
    # and it genuinely changed from batch 1
    s0_first = first[first.series_id == "s0"].sort_values("ts")["y_hat"].to_numpy()
    assert not np.allclose(s0_first, s0["y_hat"].to_numpy(), rtol=1e-6)


def test_disagg_stress_tool_smoke(spark, monkeypatch):
    """tools/disagg_stress.py is the many-series scale evidence — pin it
    against bitrot by running its main() at toy size (the tool asserts
    the distributed re-aggregation invariant itself)."""
    import sys
    import importlib

    monkeypatch.setattr(sys, "argv", ["disagg_stress.py", "40", "3", "chow-lin"])
    sys.path.insert(0, "/root/repo/tools")
    try:
        mod = importlib.import_module("disagg_stress")
        mod.main()  # raises on invariant violation
    finally:
        sys.path.remove("/root/repo/tools")


def test_disagg_stress_staged_resume(spark, monkeypatch, tmp_path):
    """The 1M-series measurement rests on the staged runner's resume logic:
    every stage persists to WORKDIR and a later stage reconstructs the run
    purely from disk, so killing between stages and resuming in a fresh
    command must verify the same invariant.  Simulated here by invoking
    each stage as an independent main() call (the stage handoff is 100%
    file-based — no module state survives between calls either way), at
    toy size with a 2-way shard split, including a shard RERUN (the log's
    last-record-per-shard supersede) and the two guard rails: a
    missing-shard verify and a stale-layout verify must both fail loudly
    instead of blending runs (ADVICE r07)."""
    import sys
    import importlib

    wd = str(tmp_path / "staged")
    sys.path.insert(0, "/root/repo/tools")
    try:
        mod = importlib.import_module("disagg_stress")

        def run(*argv):
            monkeypatch.setattr(sys, "argv", ["disagg_stress.py", *argv])
            mod.main()

        run("gen", wd, "30", "3")
        run("solve", wd, "0/2", "chow-lin")
        # --- simulated kill: verify now must refuse (shard 1 missing) ---
        with pytest.raises(SystemExit, match="missing shards \\[1\\]"):
            run("verify", wd)
        # --- resume in a "fresh command": finish shard 1, rerun shard 0 ---
        run("solve", wd, "1/2", "chow-lin")
        run("solve", wd, "0/2", "chow-lin")  # rerun supersedes in the log
        run("verify", wd)  # asserts rows + re-aggregation invariant itself
        import json as _json

        with open(os.path.join(wd, "solve_log.jsonl")) as fh:
            recs = [_json.loads(ln) for ln in fh if ln.strip()]
        assert len(recs) == 3  # the rerun appended, not overwrote
        # --- stale-layout guard: a 1-way rerun leaves the 2-way outputs
        # behind; verify pins the LAST record's layout and must reject the
        # now-extra shard dirs rather than union them into one measurement
        run("solve", wd, "0/1", "chow-lin")
        with pytest.raises(SystemExit, match="stale shard outputs"):
            run("verify", wd)
    finally:
        sys.path.remove("/root/repo/tools")


def test_spark_fleet_reagg_invariant_property(spark):
    """C @ y_hat = y THROUGH the Spark grouped-kernel surface, fuzzed
    (VERDICT r12 #7): random 3-series fleets across every method x
    agg_func x conversion combo, driven through the full applyInPandas
    path (tagged union, kernel partitioning, Arrow round trip) — the
    per-series invariant the pandas-surface twin
    (test_disagg_golden.py::test_reagg_invariant_on_random_inputs)
    fuzzes WITHOUT the Spark plumbing.  The distribution step enforces
    the constraint by construction, so the tolerance here is solver
    roundoff (1e-9 relative), not optimizer tolerance."""
    import warnings

    import numpy as np
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsdisagg_spark.spark.disagg import disaggregate

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_low=st.integers(4, 10),
        method=st.sampled_from(
            ["denton", "denton-cholette", "chow-lin", "litterman"]
        ),
        agg_func=st.sampled_from(["sum", "mean", "first", "last"]),
        conv=st.sampled_from(
            [("YS", "QS", 4), ("YS", "MS", 12), ("QS", "MS", 3)]
        ),
        seed=st.integers(0, 2**31),
    )
    def check(n_low, method, agg_func, conv, seed):
        low_code, high_code, factor = conv
        rng = np.random.default_rng(seed)
        sids = ["a", "b", "c"]
        ts_low = pd.date_range("2000-01-01", periods=n_low, freq=low_code)
        ts_high = pd.date_range(
            "2000-01-01", periods=n_low * factor, freq=high_code
        )
        truth = {s: rng.uniform(50, 150, n_low) * factor for s in sids}
        low_pdf = pd.DataFrame(
            {
                "series_id": np.repeat(sids, n_low),
                "ts": np.tile(ts_low, len(sids)),
                "y": np.concatenate([truth[s] for s in sids]),
            }
        )
        low = spark.createDataFrame(low_pdf)
        indicators = None
        if method in ("chow-lin", "litterman"):
            ind_pdf = pd.DataFrame(
                {
                    "series_id": np.repeat(sids, n_low * factor),
                    "ts": np.tile(ts_high, len(sids)),
                    "x1": rng.uniform(1, 3, n_low * factor * len(sids))
                    + np.tile(
                        np.linspace(0, 1, n_low * factor), len(sids)
                    ),
                    "intercept": 1.0,
                }
            )
            indicators = spark.createDataFrame(ind_pdf)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            out = disaggregate(
                low,
                indicators,
                method=method,
                agg_func=agg_func,
                target_freq=high_code if indicators is None else None,
            ).toPandas()
        assert len(out) == n_low * factor * len(sids)
        for s in sids:
            g = out[out["series_id"] == s].sort_values("ts")
            idx = pd.DatetimeIndex(g["ts"])
            lbl = idx.year * (4 if low_code == "QS" else 1) + (
                (idx.quarter - 1) if low_code == "QS" else 0
            )
            grp = g.groupby(np.asarray(lbl))["y_hat"]
            re = {
                "sum": grp.sum,
                "mean": grp.mean,
                "first": grp.first,
                "last": grp.last,
            }[agg_func]()
            np.testing.assert_allclose(
                re.to_numpy(),
                truth[s],
                rtol=1e-9,
                err_msg=f"{method}/{agg_func}/{conv}/series={s}",
            )
            # the Spark kernel stage and the pandas API run one core:
            # the same stamps and the same values, bit for bit
            low_s = pd.DataFrame({"y": truth[s]}, index=pd.DatetimeIndex(ts_low.to_numpy()))
            high_s = None
            if indicators is not None:
                rows = ind_pdf[ind_pdf["series_id"] == s]
                high_s = rows[["x1", "intercept"]].set_index(pd.DatetimeIndex(rows["ts"].to_numpy()))
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                want = disaggregate_series(
                    low_s, high_s, method=method, agg_func=agg_func,
                    target_freq=high_code if high_s is None else None, verbose=False,
                )
            assert np.array_equal(g["ts"].to_numpy(), want.index.to_numpy())
            assert np.array_equal(g["y_hat"].to_numpy(), want.to_numpy())

    check()
