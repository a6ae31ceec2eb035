"""Calendar/frequency property tests — the engine's version of the
reference's hypothesis layer (tests/test_disaggregation.py:68-139,
tests/test_time_conversion.py:36-108): random frequency codes, C-matrix
invariants, companion-index shape invariants."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tsdisagg_spark import frequency as freq
from tsdisagg_spark import kernels

MONTHS = list(freq.MONTH_ABBRS)


@st.composite
def freq_pairs(draw):
    """Random (low, high) code pair, mirroring the reference's generator:
    bases Y/Q/M, optional B prefix, E/S suffix, month anchors on Y and Q."""
    bases = ["Y", "Q", "M"]
    low_i = draw(st.integers(0, 1))
    high_i = draw(st.integers(low_i + 1, 2))
    prefix = draw(st.sampled_from(["", "B"]))
    suffix = draw(st.sampled_from(["E", "S"]))
    month = draw(st.sampled_from(MONTHS))

    low = prefix + bases[low_i] + suffix
    high = prefix + bases[high_i] + suffix
    if bases[low_i] in ("Y", "Q"):
        low += "-" + month
    if bases[high_i] == "Q":
        high += "-" + month
    return low, high


@given(freq_pairs())
@settings(max_examples=60, deadline=None)
def test_classification_and_factor(pair):
    low, high = pair
    low_fam, high_fam = freq.family(low), freq.family(high)
    factor = freq.conversion_factor(low, high)
    assert factor == {
        ("yearly", "quarterly"): 4,
        ("yearly", "monthly"): 12,
        ("quarterly", "monthly"): 3,
    }[(low_fam, high_fam)]


@given(freq_pairs())
@settings(max_examples=40, deadline=None)
def test_companion_index_shape(pair):
    """Merged-axis invariants: T low periods expand to T*factor high stamps,
    and each low stamp coincides with exactly one high stamp (so the outer
    merge leaves factor-1 target-nulls per period)."""
    low, high = pair
    if freq.is_business(high):
        return  # business timelines verified separately (snap semantics)
    T = 5
    low_idx = pd.date_range("2001-01-01", periods=T, freq=low)
    comp = freq.companion_index(low_idx, low, high)
    factor = freq.conversion_factor(low, high)
    assert len(comp) == T * factor
    assert low_idx.isin(comp).all()


@given(freq_pairs())
@settings(max_examples=25, deadline=None)
def test_conversion_matrix_reproduces_groupby(pair):
    """C @ x must equal the pandas groupby aggregate on full periods — the
    reference's central property test (test_disaggregation.py:96-139)."""
    low, high = pair
    if freq.is_business(high):
        return
    T = 5
    low_idx = pd.date_range("2003-01-01", periods=T, freq=low)
    high_idx = freq.companion_index(low_idx, low, high)
    factor = freq.conversion_factor(low, high)

    label_family = "yearly" if freq.family(low) == "yearly" else "quarterly"
    ll = kernels.period_labels(low_idx, label_family)
    hl = kernels.period_labels(high_idx, label_family)

    rng = np.random.default_rng(0)
    x = rng.uniform(1, 10, len(high_idx))
    series = pd.Series(x, index=high_idx)

    for agg in ["sum", "mean", "first", "last"]:
        C = kernels.conversion_matrix(ll, hl, factor, agg)
        assert C.shape == (T, len(high_idx))
        row_sums = C.sum(axis=1)
        expected_full = factor if agg == "sum" else 1.0
        grouped = series.groupby(hl).agg(agg)
        sizes = series.groupby(hl).size()
        for i, label in enumerate(ll):
            if label in sizes.index and sizes[label] == factor:
                np.testing.assert_allclose(row_sums[i], expected_full)
                np.testing.assert_allclose((C @ x)[i], grouped[label])
            else:
                assert row_sums[i] == 0.0


@given(freq_pairs())
@settings(max_examples=60, deadline=None)
def test_companion_index_business(pair):
    """Business-calendar companions (BYS-MAR -> BMS, BYE-OCT -> BQE-OCT,
    ...): the same shape invariants the reference fuzzes through its B-base
    block-matrix checks (test_time_conversion.py:36-108) — T*factor stamps,
    every low stamp present on the companion (so the outer merge aligns),
    and every stamp on a weekday."""
    low, high = pair
    if not freq.is_business(high):
        return
    T = 4
    low_idx = pd.date_range("2001-01-01", periods=T, freq=low)
    comp = freq.companion_index(low_idx, low, high)
    factor = freq.conversion_factor(low, high)
    assert len(comp) == T * factor
    assert low_idx.isin(comp).all()
    assert (comp.dayofweek < 5).all()


@given(st.sampled_from(MONTHS), st.sampled_from(["", "B"]),
       st.sampled_from(["S", "E"]))
@settings(max_examples=48, deadline=None)
def test_step_down_anchored_corners(month, prefix, suffix):
    """Anchored/business step-down over every month anchor (the reference's
    auto_step_down_base_freq keeps yearly anchors on quarters and drops
    quarterly anchors on months, time_conversion.py TestUtilities)."""
    y = freq.step_down(f"{prefix}Y{suffix}-{month}")
    assert y == f"{prefix}Q{suffix}-{month}"
    q = freq.step_down(f"{prefix}Q{suffix}-{month}")
    assert q == f"{prefix}M{suffix}"


def test_step_down():
    assert freq.step_down("YS") == "QS"
    assert freq.step_down("YS-JAN") == "QS-JAN"
    assert freq.step_down("BYE-OCT") == "BQE-OCT"
    assert freq.step_down("BYS-MAR") == "BQS-MAR"
    assert freq.step_down("QS-OCT") == "MS"
    assert freq.step_down("BQE") == "BME"
    with pytest.raises(freq.FrequencyError):
        freq.step_down("MS")


def test_business_snap():
    # 2024-06-01 is a Saturday -> first business day is Mon the 3rd
    assert freq.first_business_day(pd.Timestamp("2024-06-15")) == pd.Timestamp("2024-06-03")
    # 2024-03-31 is a Sunday -> last business day is Fri the 29th
    assert freq.last_business_day(pd.Timestamp("2024-03-02")) == pd.Timestamp("2024-03-29")
    # leap handling is real (unlike the reference's year%4 shortcut)
    assert freq.last_business_day(pd.Timestamp("1900-02-10")) == pd.Timestamp("1900-02-28")


def test_business_companion_index():
    low_idx = pd.date_range("2020-01-01", periods=3, freq="BYS")
    comp = freq.companion_index(low_idx, "BYS", "BQS")
    assert len(comp) == 12
    # every stamp is a weekday
    assert (comp.dayofweek < 5).all()


def test_infer_code_matches_pandas():
    idx = pd.date_range("1975-01-01", periods=10, freq="YS")
    plain = pd.DatetimeIndex(idx.to_numpy())
    assert freq.infer_code(plain) == "YS-JAN"
    q = pd.date_range("1972-01-01", periods=12, freq="QS-OCT")
    assert freq.infer_code(pd.DatetimeIndex(q.to_numpy())) in ("QS-OCT", "QS-JAN")


def test_output_column_names():
    assert freq.output_column_names("sales", "YS", "QS-OCT") == (
        "yearly_sales",
        "quarterly_sales",
    )


@settings(max_examples=200, deadline=None)
@given(
    step=st.sampled_from([1, 2, 3, 6, 12, 24]),
    m0=st.integers(1, 12),
    y0=st.integers(1980, 2030),
    n=st.integers(1, 30),
    day=st.sampled_from([1, 1, 1, 15, 28]),
)
def test_fast_infer_agrees_with_pandas(step, m0, y0, n, day):
    """The numpy inference fast path must return EXACTLY what pandas
    ``inferred_freq`` returns whenever it claims a code, and fall back
    (None) otherwise — across supported steps, unsupported steps, short
    indexes, and non-day-1 stamps."""
    idx = pd.DatetimeIndex(
        [pd.Timestamp(y0 + ((m0 - 1 + i * step) // 12),
                      (m0 - 1 + i * step) % 12 + 1, day)
         for i in range(n)]
    )
    fast = freq._fast_infer(idx)
    if fast is not None:
        assert fast == pd.DatetimeIndex(idx.values).inferred_freq
    # infer_code must equal the reference expression in all cases
    expected = (
        idx.freq.freqstr if idx.freq is not None else idx.inferred_freq
    )
    assert freq.infer_code(idx) == expected
    # a raw datetime64[ns] array (the kernel stage's input) carries no
    # .freq, so it must infer exactly what pandas infers from the stamps
    raw = idx.to_numpy(dtype="datetime64[ns]")
    assert freq._fast_infer(raw) == fast
    assert freq.infer_code(raw) == pd.DatetimeIndex(raw).inferred_freq


def test_fast_infer_rejects_irregular_and_intraday():
    reg = pd.date_range("2001-01-01", periods=6, freq="MS")
    assert freq._fast_infer(pd.DatetimeIndex(reg.values)) == "MS"
    hole = pd.DatetimeIndex(reg.values).delete(2)
    assert freq._fast_infer(hole) is None
    shifted = pd.DatetimeIndex(reg.values) + pd.Timedelta(hours=1)
    assert freq._fast_infer(shifted) is None
