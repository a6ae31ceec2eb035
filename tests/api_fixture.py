"""Seeded corpus and recorded outputs for the pandas-API differential test
(``test_disagg_api.py::test_api_matches_fixture``).

``tests/data/api_fixture.npz`` holds what ``disaggregate_full`` returned on
every case of :func:`cases` at commit 684b6e4, before the pandas API and
the Spark kernel stage moved onto one array-level core: the output values
and stamps (int64 nanoseconds), the output index's time zone and
``freqstr``, ``result.x``/``nfev``, ``info``, the regression report and the
warnings raised.  The kernel inputs y, X and C of every case are the same
on both sides of that change, so the test requires exact equality.

The corpus crosses the four methods with every ``agg_func`` on A->Q, A->M
and Q->M, with ``target_freq`` given and omitted and with backcast 0 and
13, and adds the calendar corners one by one: ``YS-JUL`` and ``QS-OCT``
anchors, end-anchored ``YE``/``QE`` -> ``ME``, the business companion
``BYS`` -> ``BQS``, an uncovered low period, a ``pd.Series`` target, indexes
with an attached ``.freq`` and Asia/Tokyo indexes.  The inputs are not
stored: :func:`cases` regenerates them from fixed seeds.

Regenerate (only meaningful on a tree whose pandas API is the one to
record)::

    OPENBLAS_NUM_THREADS=1 python tests/api_fixture.py tests/data/api_fixture.npz
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import warnings

import numpy as np
import pandas as pd

METHODS = ("denton", "denton-cholette", "chow-lin", "litterman")
AGG_FUNCS = ("sum", "mean", "first", "last")
BACKCASTS = (0, 13)
#: pair -> (low code, high code, high periods per low period, low periods)
PAIRS = {
    "A->Q": ("YS", "QS", 4, 8),
    "A->M": ("YS", "MS", 12, 5),
    "Q->M": ("QS", "MS", 3, 10),
}
REPORT_COLUMNS = ("coef", "sd_err", "t", "p_value", "ci_low", "ci_high")


def _stamps(start, periods, code, attached=False, tz=None, backcast=0):
    """``periods`` stamps of ``code`` from ``backcast`` periods before
    ``start``; without ``attached`` the index carries no ``.freq``, as an
    index read from data would."""
    first = pd.date_range(end=start, periods=backcast + 1, freq=code, tz=tz)[0]
    idx = pd.date_range(first, periods=periods, freq=code, tz=tz)
    return idx if attached else pd.DatetimeIndex(list(idx))


def _indicator(rng, index, method):
    """One positive trending indicator; regressions also get an intercept."""
    t = np.arange(len(index))
    x = 50.0 + 0.4 * t + 5.0 * np.sin(t / 5.0) + rng.normal(0.0, 2.0, len(t))
    cols = {"x1": x}
    if method in ("chow-lin", "litterman"):
        cols["intercept"] = 1.0
    return pd.DataFrame(cols, index=index)


def _target(rng, index, factor, name="sales"):
    """A positive low-frequency target of the indicator's scale."""
    n = len(index)
    level = factor * (120.0 + 2.0 * np.arange(n) + np.cumsum(rng.normal(0.0, 8.0, n)))
    return pd.DataFrame({name: level}, index=index)


def _grid_case(rng, method, agg, pair, backcast, given):
    low_code, high_code, factor, n_low = PAIRS[pair]
    low_idx = _stamps("2001-01-01", n_low, low_code)
    low = _target(rng, low_idx, factor)
    kw = {"method": method, "agg_func": agg}
    high_idx = _stamps(low_idx[0], n_low * factor + backcast, high_code, backcast=backcast)
    high = _indicator(rng, high_idx, method)
    if given:
        kw["target_freq"] = pd.DatetimeIndex(high.index).inferred_freq
    return low, high, kw


def _companion_case(rng, method, agg, pair, given):
    low_code, high_code, factor, n_low = PAIRS[pair]
    low = _target(rng, _stamps("2001-01-01", n_low, low_code), factor)
    kw = {"method": method, "agg_func": agg}
    if given:
        kw["target_freq"] = high_code
    return low, None, kw


def _special_cases():
    """Calendar corners: ``(name, build(rng))`` per case."""

    def anchored(low_code, start, high_code, factor, n_low, method, agg):
        def build(rng):
            low_idx = _stamps(start, n_low, low_code)
            high = _indicator(rng, _stamps(start, n_low * factor, high_code), method)
            return _target(rng, low_idx, factor), high, {"method": method, "agg_func": agg}
        return build

    def companion(low_code, start, n_low, method, agg, target, attached=False, tz=None):
        def build(rng):
            low = _target(rng, _stamps(start, n_low, low_code, attached, tz), 4)
            kw = {"method": method, "agg_func": agg}
            if target:
                kw["target_freq"] = target
            return low, None, kw
        return build

    def uncovered(method):
        def build(rng):
            # the indicator stops in June of the last year
            low = _target(rng, _stamps("2001-01-01", 6, "YS"), 12)
            high = _indicator(rng, _stamps("2001-01-01", 66, "MS"), method)
            return low, high, {"method": method, "agg_func": "sum"}
        return build

    def series_target(method):
        def build(rng):
            low = _target(rng, _stamps("2001-01-01", 8, "YS"), 4)["sales"]
            high = _indicator(rng, _stamps("2001-01-01", 32, "QS"), method)
            return low, high, {"method": method, "agg_func": "mean"}
        return build

    def attached_high(method, agg):
        def build(rng):
            low = _target(rng, _stamps("2001-01-01", 8, "YS", attached=True), 12)
            high = _indicator(rng, _stamps("2000-12-01", 97, "MS", attached=True), method)
            return low, high, {"method": method, "agg_func": agg}
        return build

    def tokyo(method, agg, backcast):
        def build(rng):
            low = _target(rng, _stamps("2000-01-01", 8, "YS", tz="Asia/Tokyo"), 4)
            high_idx = _stamps("2000-01-01", 32 + backcast, "QS", tz="Asia/Tokyo", backcast=backcast)
            high = _indicator(rng, high_idx, method)
            return low, high, {"method": method, "agg_func": agg}
        return build

    def optimizer(opt):
        def build(rng):
            low, high, kw = _grid_case(rng, "chow-lin", "sum", "A->M", 13, False)
            kw["optimizer_kwargs"] = {"method": opt}
            return low, high, kw
        return build

    specials = [
        ("YS-JUL chow-lin sum", anchored("YS-JUL", "2001-07-01", "MS", 12, 8, "chow-lin", "sum")),
        ("YS-JUL denton-cholette mean",
         anchored("YS-JUL", "2001-07-01", "MS", 12, 8, "denton-cholette", "mean")),
        ("QS-OCT litterman last", anchored("QS-OCT", "2001-10-01", "MS", 3, 16, "litterman", "last")),
        ("QS-OCT denton first", anchored("QS-OCT", "2001-10-01", "MS", 3, 16, "denton", "first")),
        ("YE->ME chow-lin sum", anchored("YE", "2001-12-31", "ME", 12, 8, "chow-lin", "sum")),
        ("YE->ME denton-cholette first",
         anchored("YE", "2001-12-31", "ME", 12, 8, "denton-cholette", "first")),
        ("QE->ME litterman mean", anchored("QE", "2001-03-31", "ME", 3, 16, "litterman", "mean")),
        ("QE->ME denton last", anchored("QE", "2001-03-31", "ME", 3, 16, "denton", "last")),
        ("BYS->BQS denton-cholette sum", companion("BYS", "2001-01-01", 8, "denton-cholette", "sum", "BQS")),
        ("BYS step-down denton mean", companion("BYS", "2001-01-01", 8, "denton", "mean", None)),
        ("YS attached step-down denton sum",
         companion("YS", "2001-01-01", 8, "denton", "sum", None, attached=True)),
        ("QS attached step-down denton-cholette last",
         companion("QS", "2001-01-01", 16, "denton-cholette", "last", None, attached=True)),
        ("YE companion QE denton-cholette sum", companion("YE", "2001-12-31", 8, "denton-cholette", "sum", "QE")),
        ("uncovered chow-lin", uncovered("chow-lin")),
        ("uncovered denton-cholette", uncovered("denton-cholette")),
        ("Series target litterman", series_target("litterman")),
        ("Series target denton", series_target("denton")),
        ("attached high chow-lin first", attached_high("chow-lin", "first")),
        ("attached high denton-cholette sum", attached_high("denton-cholette", "sum")),
        ("Asia/Tokyo chow-lin sum", tokyo("chow-lin", "sum", 0)),
        ("Asia/Tokyo litterman first backcast", tokyo("litterman", "first", 3)),
        ("Asia/Tokyo companion denton-cholette",
         companion("YS", "2000-01-01", 8, "denton-cholette", "sum", "QS", tz="Asia/Tokyo")),
        ("two attached periods denton-cholette",
         companion("YS", "2001-01-01", 2, "denton-cholette", "sum", "QS", attached=True)),
        ("chow-lin nelder-mead", optimizer("nelder-mead")),
        ("chow-lin powell", optimizer("powell")),
    ]
    return specials


def cases():
    """Yield ``(name, low, high, kwargs)`` for every case, in a fixed order,
    each from its own seed."""
    grid = [
        (f"{pair} {method} {agg} backcast={backcast} target={given}",
         lambda rng, m=method, a=agg, p=pair, b=backcast, g=given: _grid_case(rng, m, a, p, b, g))
        for pair, method, agg, backcast, given in itertools.product(
            PAIRS, METHODS, AGG_FUNCS, BACKCASTS, (False, True)
        )
    ]
    companions = [
        (f"companion {pair} {method} {agg} target={given}",
         lambda rng, m=method, a=agg, p=pair, g=given: _companion_case(rng, m, a, p, g))
        for pair, method, agg, given in itertools.product(
            ("A->Q", "Q->M"), ("denton", "denton-cholette"), AGG_FUNCS, (False, True)
        )
    ]
    for i, (name, build) in enumerate(grid + companions + _special_cases()):
        low, high, kw = build(np.random.default_rng([2031, i]))
        yield name, low, high, kw


#: the numeric outputs recorded per case, each stored as one concatenated
#: array with offsets; an output a case does not produce is empty
FIELDS = (
    "y_hat", "ts", "x", "info.beta", "info.std_beta", "info.rho", "info.sigma2",
    *(f"report.{col}" for col in REPORT_COLUMNS),
)


def run(low, high, kw) -> tuple[dict, dict]:
    """One case through ``disaggregate_full``: ``(arrays, meta)``, the
    numeric outputs by :data:`FIELDS` and the rest as JSON-ready values."""
    from tsdisagg_spark.disagg import disaggregate_full

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        arts = disaggregate_full(low, high, verbose=False, **kw)
    out, result, info, report = arts["output"], arts["result"], arts["info"], arts["report"]
    arrays = {"y_hat": out.to_numpy(), "ts": out.index.asi8}
    if result is not None:
        arrays["x"] = np.asarray(result.x)
    for key in ("beta", "std_beta", "rho", "sigma2"):
        if key in info:
            arrays[f"info.{key}"] = np.ravel(info[key]).astype(float)
    if report is not None:
        for col in REPORT_COLUMNS:
            arrays[f"report.{col}"] = report[col].to_numpy()
    meta = {
        "tz": None if out.index.tz is None else str(out.index.tz),
        "freq": out.index.freqstr,
        "name": out.name,
        "index_name": out.index.name,
        "nfev": None if result is None else int(result.nfev),
        "info_keys": sorted(info),
        "variables": None if report is None else list(report["variable"]),
        "n_obs": int(arts["n_obs"]),
        "warnings": [str(w.message) for w in caught],
    }
    return arrays, meta


def record(path: str) -> None:
    """Run every case and write the outputs."""
    columns = {field: [] for field in FIELDS}
    metas = []
    for name, low, high, kw in cases():
        arrays, meta = run(low, high, kw)
        for field, values in columns.items():
            values.append(arrays.get(field, np.empty(0)))
        metas.append({"case": name, **meta})
    stored = {"meta": np.array(json.dumps(metas))}
    for field, values in columns.items():
        stored[field] = np.concatenate(values)
        stored[f"{field}.offsets"] = np.cumsum([0] + [len(v) for v in values])
    np.savez_compressed(path, **stored)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    record(sys.argv[1])
