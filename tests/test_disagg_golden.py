"""End-to-end golden parity vs R ``tempdisagg`` outputs.

Re-expresses every golden case from the reference test suite
(/root/reference/tests/test_disaggregation.py:142-363) against this engine's
pandas-facing API.  Fixture CSVs are read directly from the read-only
reference checkout; index/frequency assignments replicate the tests.
"""

import numpy as np
import pandas as pd
import pandas.testing as pd_testing
import pytest

from tsdisagg_spark import disaggregate_series
from tsdisagg_spark.disagg import disaggregate_full

DATA = "/root/reference/tests/data"


@pytest.fixture(scope="module")
def fixtures():
    exports_m = pd.read_csv(f"{DATA}/exports_m.csv", index_col=0)
    exports_m.index = pd.date_range("1972-01-01", freq="MS", periods=len(exports_m))
    exports_m.columns = ["exports"]

    sales_a = pd.read_csv(f"{DATA}/sales_a.csv", index_col=0)
    sales_a.index = pd.date_range("1975-01-01", freq="YS", periods=len(sales_a))
    sales_a.columns = ["sales"]

    exports_q = pd.read_csv(f"{DATA}/exports_q.csv", index_col=0)
    exports_q.index = pd.date_range("1972-01-01", freq="QS-OCT", periods=len(exports_q))
    exports_q.columns = ["exports"]

    imports_q = pd.read_csv(f"{DATA}/imports_q.csv", index_col=0)
    imports_q.index = pd.date_range("1972-01-01", freq="QS-OCT", periods=len(imports_q))
    imports_q.columns = ["imports"]

    return {
        "exports_m": exports_m,
        "sales_a": sales_a,
        "exports_q": exports_q,
        "imports_q": imports_q,
    }


def golden(name, index, column="sales"):
    expected = pd.read_csv(f"{DATA}/{name}", index_col=0)
    expected.index = index
    expected.columns = [column]
    return expected


def test_denton(fixtures):
    expected = golden(
        "R_output_denton.csv",
        pd.date_range("1975-01-01", freq="QS-OCT", periods=144),
    )
    out = disaggregate_series(fixtures["sales_a"], method="denton", agg_func="sum")
    pd_testing.assert_frame_equal(out.to_frame(), expected)


def test_denton_cholette_no_indicator(fixtures):
    expected = golden(
        "R_output_denton_cholette.csv",
        pd.date_range("1975-01-01", freq="QS-OCT", periods=144),
    )
    out = disaggregate_series(
        fixtures["sales_a"], method="denton-cholette", agg_func="sum"
    )
    pd_testing.assert_frame_equal(out.to_frame(), expected)


def test_denton_cholette_with_indicator(fixtures):
    expected = golden(
        "R_output_denton_cholette_w_indicator.csv", fixtures["exports_q"].index
    )
    out = disaggregate_series(
        fixtures["sales_a"],
        high_freq_df=fixtures["exports_q"],
        method="denton-cholette",
        agg_func="sum",
        verbose=False,
    )
    pd_testing.assert_frame_equal(out.to_frame(), expected)


def test_chow_lin(fixtures):
    expected = golden("R_output_chow_lin.csv", fixtures["exports_q"].index)
    out = disaggregate_series(
        fixtures["sales_a"],
        fixtures["exports_q"].assign(constant=1),
        method="chow-lin",
        agg_func="sum",
        optimizer_kwargs={"method": "powell"},
        verbose=False,
    )
    pd_testing.assert_frame_equal(out.to_frame(), expected)


def test_chow_lin_two_indicators(fixtures):
    expected = golden(
        "R_output_chow_lin_two_indicator.csv", fixtures["exports_q"].index
    )
    both = fixtures["exports_q"].merge(
        fixtures["imports_q"], left_index=True, right_index=True
    )
    out = disaggregate_series(
        fixtures["sales_a"],
        both.resample("QS-OCT").first().assign(constant=1),
        method="chow-lin",
        agg_func="sum",
        optimizer_kwargs={"method": "l-bfgs-b"},
        verbose=True,
    )
    pd_testing.assert_frame_equal(out.to_frame(), expected)


def test_chow_lin_inferred_freq(fixtures):
    # low-freq index with freq metadata stripped -> engine must infer it
    expected = golden(
        "R_output_chow_lin_two_indicator.csv", fixtures["exports_q"].index
    )
    both = fixtures["exports_q"].merge(
        fixtures["imports_q"], left_index=True, right_index=True
    )
    sales = fixtures["sales_a"].copy()
    sales.index.freq = None

    out = disaggregate_series(
        sales,
        both.resample("QS-OCT").first().assign(constant=1),
        method="chow-lin",
        agg_func="sum",
        optimizer_kwargs={"method": "l-bfgs-b"},
        verbose=False,
    )
    pd_testing.assert_frame_equal(out.to_frame(), expected)
    assert out.index.freq == "QS-OCT"


def test_litterman_annual_to_monthly(fixtures):
    expected = golden("R_output_litterman_A_to_M.csv", fixtures["exports_m"].index)
    out = disaggregate_series(
        fixtures["sales_a"],
        high_freq_df=fixtures["exports_m"].assign(Constant=1),
        method="litterman",
        agg_func="sum",
        optimizer_kwargs={"method": "nelder-mead"},
        verbose=False,
    )
    pd_testing.assert_frame_equal(out.to_frame(), expected)


def test_chow_lin_backcasting_q_to_m():
    # quarterly -> monthly with the indicator starting before the target
    # (reference issue #6 regression, test_disaggregation.py:191-222)
    expected = pd.read_csv(f"{DATA}/R_Output_chow-lin_QtoM_2.csv")

    low = pd.read_csv(f"{DATA}/AL_Quarterly_Data_Modified.csv")
    high = pd.read_csv(f"{DATA}/AL_Monthly_Data_Modified_Shorter.csv")
    low.index = pd.to_datetime(low["period"])
    high.index = pd.to_datetime(high["period"])
    low = low.dropna().drop(columns=["period"])
    high = high.dropna().drop(columns=["period"])

    expected.index = high.index
    expected.columns = ["Value"]

    out = disaggregate_series(
        low,
        high.assign(intercept=1),
        method="chow-lin",
        agg_func="first",
        optimizer_kwargs={"method": "powell"},
        verbose=False,
    )
    assert np.all(expected.index == out.index)
    np.testing.assert_allclose(expected.values.ravel(), out.values, rtol=1e-3)


def test_chow_lin_backcasting_y_to_q():
    # annual -> quarterly on misaligned (Dec-stamped) data with partial first
    # year pruned (test_disaggregation.py:224-263)
    expected = pd.read_csv(f"{DATA}/AL_A_to_Q_expected.csv")
    expected["index"] = (
        expected["index"]
        .str.replace(" Q", "-")
        .map(
            lambda x: pd.Period(
                year=int(x.split("-")[0]), quarter=int(x.split("-")[-1]), freq="Q"
            ).start_time
        )
    )
    expected = expected.set_index("index").resample("QS-DEC").last()
    expected.index = expected.index + expected.index.freq

    low = pd.read_csv(
        f"{DATA}/AL_Annual_Data_Shorter.csv", parse_dates=True, index_col="period"
    ).dropna()
    high = pd.read_csv(
        f"{DATA}/AL_Quarterly_Data_Modified.csv", parse_dates=True, index_col="period"
    ).dropna()

    with pytest.warns(UserWarning, match="Insufficent high-frequency data"):
        out, res = disaggregate_series(
            low,
            high.assign(intercept=1),
            method="chow-lin",
            agg_func="first",
            optimizer_kwargs={"method": "powell"},
            return_optim_res=True,
            verbose=False,
        )

    assert res.success
    assert np.all(expected.index == out.index)
    np.testing.assert_allclose(expected.values.ravel(), out.values.ravel(), rtol=1e-3)


# ---------------------------------------------------------------------------
# error paths (test_disaggregation.py:366-475)
# ---------------------------------------------------------------------------


def _days(start, n):
    return pd.date_range(start, periods=n, freq="D")


def test_error_no_datetime_index_low():
    with pytest.raises(ValueError, match="low_freq_df"):
        disaggregate_series(
            pd.DataFrame({"data": [1, 2, 3]}),
            pd.DataFrame({"data": [1, 2, 3]}),
            method="denton",
            agg_func="sum",
        )


def test_error_no_datetime_index_high():
    with pytest.raises(ValueError, match="high_freq_df"):
        disaggregate_series(
            pd.DataFrame({"data": [1, 2, 3]}, index=_days("2020-01-01", 3)),
            pd.DataFrame({"data": [1, 2, 3]}),
            method="denton",
            agg_func="sum",
        )


def test_error_missing_values():
    with pytest.raises(ValueError, match="low_freq_df has missing values"):
        disaggregate_series(
            pd.DataFrame({"data": [1, np.nan, 3]}, index=_days("2020-01-01", 3)),
            pd.DataFrame({"data": [1, 2, 3]}, index=_days("2020-01-01", 3)),
            method="denton",
            agg_func="sum",
        )
    with pytest.raises(ValueError, match="high_freq_df has missing values"):
        disaggregate_series(
            pd.DataFrame({"data": [1, 2, 3]}, index=_days("2020-01-01", 3)),
            pd.DataFrame({"data": [1, np.nan, 3]}, index=_days("2020-01-01", 3)),
            method="denton",
            agg_func="sum",
        )


def test_error_high_starts_after_low():
    with pytest.raises(ValueError, match="is after start date"):
        disaggregate_series(
            pd.DataFrame({"data": [1, 2, 3]}, index=_days("1999-01-01", 3)),
            pd.DataFrame({"data": [1, 2, 3]}, index=_days("2020-01-01", 3)),
            method="denton",
            agg_func="sum",
        )


def test_error_target_freq_mismatch():
    with pytest.raises(ValueError, match="target_freq does not match"):
        disaggregate_series(
            pd.DataFrame({"data": [1, 2, 3]}, index=_days("2020-01-01", 3)),
            pd.DataFrame({"data": [1, 2, 3]}, index=_days("2020-01-01", 3)),
            method="denton",
            agg_func="sum",
            target_freq="M",
        )


def test_error_indicator_freq_uninferrable():
    with pytest.raises(ValueError, match="high_freq_df does not have a valid time index"):
        disaggregate_series(
            pd.DataFrame(
                {"data": [1, 2, 3]},
                index=pd.date_range("2020-01-01", periods=3, freq="ME"),
            ),
            pd.DataFrame(
                {"data": [1, 2, 3]},
                index=pd.to_datetime(["2020-01-01", "2020-03-04", "2020-12-06"]),
            ),
            method="denton",
            agg_func="sum",
        )


def test_error_regression_requires_indicator():
    with pytest.raises(ValueError, match='high_freq_df can only be None'):
        disaggregate_series(
            pd.DataFrame(
                {"data": [1, 2, 3]},
                index=pd.date_range("2020-01-01", periods=3, freq="QE"),
            ),
            None,
            method="litterman",
            agg_func="sum",
        )


@pytest.mark.parametrize("entry", [disaggregate_series, disaggregate_full])
def test_error_missing_target_column(entry):
    low = pd.DataFrame(
        {"sales": [10.0, 12.0, 11.0]},
        index=pd.date_range("2000-01-01", periods=3, freq="YS"),
    )
    with pytest.raises(ValueError, match="target_column 'revenue'"):
        entry(low, method="denton-cholette", agg_func="sum", target_column="revenue")


def test_error_bad_method_and_args(fixtures):
    with pytest.raises(ValueError, match="Method should be one of"):
        disaggregate_series(fixtures["sales_a"], method="nope")
    with pytest.raises(ValueError, match="Criterion should be one of"):
        disaggregate_series(fixtures["sales_a"], method="denton", criterion="nope")
    with pytest.raises(ValueError, match="agg_func should be one of"):
        disaggregate_series(fixtures["sales_a"], method="denton", agg_func="median")


def test_reagg_invariant_on_random_inputs():
    """The defining constraint C @ y_hat = y, fuzzed: random positive
    target series with random indicators, across every method x agg_func x
    conversion — re-aggregating the output under the chosen agg function
    must reproduce the input on complete periods.  Goldens pin exact
    values on eight fixtures; this pins the invariant on arbitrary
    shapes."""
    import warnings

    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tsdisagg_spark import disaggregate_series

    @settings(max_examples=25, deadline=None)
    @given(
        n_low=st.integers(4, 12),
        method=st.sampled_from(
            ["denton", "denton-cholette", "chow-lin", "litterman"]
        ),
        agg_func=st.sampled_from(["sum", "mean", "first", "last"]),
        conv=st.sampled_from([("YS", "QS", 4), ("YS", "MS", 12), ("QS", "MS", 3)]),
        seed=st.integers(0, 2**31),
    )
    def check(n_low, method, agg_func, conv, seed):
        low_code, high_code, factor = conv
        rng = np.random.default_rng(seed)
        low = pd.DataFrame(
            {"y": rng.uniform(50, 150, n_low) * factor},
            index=pd.date_range("2000-01-01", periods=n_low, freq=low_code),
        )
        high = None
        if method in ("chow-lin", "litterman"):
            high = pd.DataFrame(
                {
                    "x1": rng.uniform(1, 3, n_low * factor)
                    + np.linspace(0, 1, n_low * factor),
                    "intercept": 1.0,
                },
                index=pd.date_range(
                    "2000-01-01", periods=n_low * factor, freq=high_code
                ),
            )
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            out = disaggregate_series(
                low,
                high,
                method=method,
                agg_func=agg_func,
                target_freq=high_code if high is None else None,
                verbose=False,
            )
        lbl = out.index.year * (4 if low_code == "QS" else 1) + (
            (out.index.quarter - 1) if low_code == "QS" else 0
        )
        g = out.groupby(lbl)
        if agg_func == "sum":
            re = g.sum()
        elif agg_func == "mean":
            re = g.mean()
        elif agg_func == "first":
            re = g.first()
        else:
            re = g.last()
        np.testing.assert_allclose(
            re.to_numpy(), low["y"].to_numpy(), rtol=1e-7,
            err_msg=f"{method}/{agg_func}/{conv}",
        )

    check()
