"""The pandas-facing API (``disaggregate_full``/``disaggregate_series``)
against its recorded outputs, and its handling of multi-column targets."""

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from tsdisagg_spark.disagg import disaggregate_full
from tsdisagg_spark.frequency import FrequencyError

HERE = os.path.dirname(os.path.abspath(__file__))


def test_api_matches_fixture():
    """Every case of tests/api_fixture.py returns exactly what the pandas
    API returned at commit 684b6e4: values, stamps, time zone and freqstr of
    the output, result.x/nfev, info, the report and the warnings."""
    import api_fixture

    ref = np.load(os.path.join(HERE, "data", "api_fixture.npz"))
    metas = json.loads(str(ref["meta"]))
    n_cases = 0
    for i, (name, low, high, kw) in enumerate(api_fixture.cases()):
        arrays, meta = api_fixture.run(low, high, kw)
        assert meta == {k: v for k, v in metas[i].items() if k != "case"}, name
        assert metas[i]["case"] == name
        for field in api_fixture.FIELDS:
            offsets = ref[f"{field}.offsets"]
            want = ref[field][offsets[i] : offsets[i + 1]]
            got = arrays.get(field, np.empty(0))
            assert got.dtype == want.dtype or len(want) == 0, (name, field)
            assert np.array_equal(got, want), (name, field)
        n_cases += 1
    assert n_cases == len(metas) == 249


def _two_column_inputs():
    rng = np.random.default_rng(11)
    years = pd.date_range("2001-01-01", periods=10, freq="YS")
    months = pd.date_range("2001-01-01", periods=120, freq="MS")
    x = 50.0 + 0.4 * np.arange(120) + rng.normal(0.0, 2.0, 120)
    high = pd.DataFrame({"x1": x, "intercept": 1.0}, index=months)
    sales = 12 * (120.0 + 2.0 * np.arange(10) + np.cumsum(rng.normal(0.0, 8.0, 10)))
    other = rng.uniform(1.0, 5.0, 10)
    return sales, other, years, high


@pytest.mark.parametrize("method", ["chow-lin", "litterman", "denton-cholette"])
@pytest.mark.parametrize("target_first", [True, False])
def test_multi_column_low_solves_target_only(method, target_first):
    """A low frame with a second column solves exactly as the target
    column alone, whichever position the target has: only
    ``target_column`` enters the solve and the report lists only the
    indicators (before, the other column entered X and the output was all
    NaN)."""
    sales, other, years, high = _two_column_inputs()
    if method == "denton-cholette":
        high = high[["x1"]]
    cols = {"sales": sales, "other": other} if target_first else {"other": other, "sales": sales}
    low = pd.DataFrame(cols, index=years)
    alone = disaggregate_full(low[["sales"]], high, method=method, verbose=False)
    both = disaggregate_full(
        low, high, method=method, target_column="sales", verbose=False
    )
    assert not both["output"].isna().any()
    pd.testing.assert_series_equal(both["output"], alone["output"])
    assert both["n_obs"] == alone["n_obs"]
    if alone["report"] is None:
        assert both["report"] is None
    else:
        pd.testing.assert_frame_equal(both["report"], alone["report"])
        assert list(both["report"]["variable"]) == list(high.columns)
        np.testing.assert_array_equal(both["result"].x, alone["result"].x)


def _six_years():
    """Six yearly targets and a monthly two-column indicator covering them."""
    years = pd.date_range("2000-01-01", periods=6, freq="YS")
    months = pd.date_range("2000-01-01", periods=72, freq="MS")
    low = pd.DataFrame({"y": 100.0 + 10.0 * np.arange(6)}, index=years)
    high = pd.DataFrame({"x1": np.linspace(1.0, 3.0, 72), "intercept": 1.0}, index=months)
    return low, high


_ARGUMENT_ERRORS = {
    "method": (
        dict(method="nope"),
        ValueError,
        "Method should be one of 'denton', 'denton-cholette', 'chow-lin', 'litterman'. Got nope.",
    ),
    "criterion": (
        dict(method="denton", criterion="nope"),
        ValueError,
        "Criterion should be one of 'proportional', 'additive'. Got nope",
    ),
    "agg_func": (
        dict(method="denton", agg_func="median"),
        ValueError,
        "agg_func should be one of 'mean', 'sum', 'first', 'last'. Got median",
    ),
    "h": (
        dict(method="denton-cholette", h=-1),
        ValueError,
        "the differencing order h must be >= 0, got -1",
    ),
    "optimizer": (
        dict(method="chow-lin", optimizer_kwargs={"method": "trust-constr"}, indicators=True),
        ValueError,
        "Unsupported optimizer method 'trust-constr': use 'nelder-mead', 'powell', "
        "'l-bfgs-b', or omit for the concentrated Brent-profile default.",
    ),
    "target_freq": (
        dict(method="denton-cholette", target_freq="W"),
        FrequencyError,
        "Only annual, quarterly and monthly frequencies are supported, found W",
    ),
    "no_indicators": (
        dict(method="litterman"),
        ValueError,
        'high_freq_df can only be None for methods "denton" and "denton-cholette", '
        "otherwise a dataframe of high-frequency indicators must be provided.",
    ),
}


@pytest.mark.parametrize("case", sorted(_ARGUMENT_ERRORS))
def test_argument_errors(case):
    """Each call mistake raises its error with the message the reference's
    argument checks give (ts_disagg.py:379-388), on synthetic input: the
    self-contained twin of ``test_disagg_golden``'s argument-error test."""
    kw, exc, message = _ARGUMENT_ERRORS[case]
    kw = dict(kw)
    low, high = _six_years()
    high = high if kw.pop("indicators", False) else None
    with pytest.raises(exc, match=re.escape(message)):
        disaggregate_full(low, high, verbose=False, **kw)


def test_argument_error_precedes_data_error():
    """A call with a bad argument and bad data reports the argument: the
    contract is checked once, before any input is read."""
    low, high = _six_years()
    low.iloc[2, 0] = np.nan
    with pytest.raises(ValueError, match="Method should be one of"):
        disaggregate_full(low, high, method="nope", verbose=False)
    with pytest.raises(ValueError, match="h must be >= 0"):
        disaggregate_full(low.iloc[:2], None, method="denton", h=-1, verbose=False)
    with pytest.raises(ValueError, match="missing values"):
        disaggregate_full(low, high, method="chow-lin", verbose=False)
