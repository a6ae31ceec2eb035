"""The pandas-facing API (``disaggregate_full``/``disaggregate_series``)
against its recorded outputs, and its handling of multi-column targets."""

import json
import os

import numpy as np
import pandas as pd
import pytest

from tsdisagg_spark.disagg import disaggregate_full

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
