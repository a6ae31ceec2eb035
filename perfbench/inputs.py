"""Seeded input generators for the disaggregation benchmark.

Every workload's inputs are a pure function of ``(workload, seed)`` and are
written as single-file parquet tables, so the engine only ever receives
generated data and the same seed gives byte-identical files.

Each fleet workload writes one directory per *block*; one timed pass
solves one block.  The block layout — each series' length, backcast offset
and position — is a fixed design of the workload, so the per-pass cost and
the hash-partition load do not swing with the seed.  The seed draws the
values, the start years and the indicator paths.

``tpch_disagg`` writes a small TPC-H-shaped star schema (the four tables
the registry's disaggregation queries read) whose sizes are fixed and whose
rows the seed draws.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: per-workload fleet design: blocks x series-per-block, the range of years
#: and of backcast months (indicator months before the first target year),
#: and how many series a traced run replays in-process
FLEETS: dict[str, dict] = {
    "fleet_uniform": {
        "blocks": 6, "per_block": 150, "years": (10, 10), "backcast": (0, 0),
        "start_year": (2000, 2000), "replay_sample": 64,
    },
    "fleet_ragged": {
        "blocks": 12, "per_block": 10, "years": (5, 30), "backcast": (0, 36),
        "start_year": (1985, 2005), "replay_sample": 4,
    },
    # one series per task slot on a 4-core host; n = 2040-2400 months, so
    # every series takes the banded kernel path (n >= BANDED_THRESHOLD)
    "long_banded": {
        "blocks": 6, "per_block": 4, "years": (170, 200), "backcast": (0, 0),
        "start_year": (1820, 1825), "replay_sample": 2,
    },
}

#: the TPC-H-shaped tables of ``tpch_disagg``: fixed row counts, seeded rows
TPCH: dict = {
    "orders": 6000, "customers": 600, "suppliers": 30,
    "order_dates": ("1995-01-01", "2001-08-01"), "ship_lag_days": (1, 95),
    "lines_per_order": (1, 7), "replay_sample": 8,
}

WORKLOADS = (*FLEETS, "tpch_disagg")

_WORKLOAD_SALT = {"fleet_uniform": 11, "fleet_ragged": 23, "long_banded": 31, "tpch_disagg": 41}


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([_WORKLOAD_SALT[workload], int(seed)])


def _month_stamps(first_month: np.ndarray) -> np.ndarray:
    """datetime64[us] of month ordinals (months since 1970-01)."""
    return first_month.astype("datetime64[M]").astype("datetime64[us]")


def fleet_shapes(workload: str) -> list[list[tuple[int, int]]]:
    """``(years, backcast_months)`` per series, per block — the fixed design.

    Years are stratified evenly over the workload's range inside every
    block.  In ``fleet_ragged`` no ``(years, backcast)`` pair repeats, so
    no two series share a kernel period structure (the V0 cache key)."""
    spec = FLEETS[workload]
    lo_y, hi_y = spec["years"]
    lo_b, hi_b = spec["backcast"]
    m = spec["per_block"]
    years = [lo_y + round((hi_y - lo_y) * j / max(m - 1, 1)) for j in range(m)]
    width = hi_b - lo_b + 1
    seen: dict[int, int] = {}
    blocks = []
    for _b in range(spec["blocks"]):
        block = []
        for y in years:
            # the i-th series of length y gets backcast (3i + y) mod width:
            # distinct for every i < width, since 3 and width are coprime
            i = seen.get(y, 0)
            seen[y] = i + 1
            block.append((y, lo_b + (i * 3 + y) % width))
        blocks.append(block)
    return blocks


def fleet_params(workload: str) -> dict:
    spec = FLEETS[workload]
    return {
        "series": spec["blocks"] * spec["per_block"],
        "blocks": spec["blocks"],
        "series_per_pass": spec["per_block"],
        "years_range": list(spec["years"]),
        "backcast_months_range": list(spec["backcast"]),
        "start_year_range": list(spec["start_year"]),
        "method": "chow-lin",
        "indicators": ["x1", "intercept"],
    }


#: the warm-up block: short series whose period structure no workload uses
WARMUP_SHAPES = [(3, 0)] * 8
WARMUP_FIRST_ID = 1_000_000


def _write_block(rng, shapes, start_year, first_id: int, bdir: str) -> None:
    """Write ``{low,ind,expect}.parquet`` for one block of series.

    ``low``: (series_id, ts, y) yearly targets; ``ind``: (series_id, ts,
    x1, intercept) monthly indicators starting ``backcast`` months before
    the first target year; ``expect``: (series_id, n_rows, n_years), the
    output shape a correct solve must have."""
    lo_s, hi_s = start_year
    low_cols: dict[str, list] = {"series_id": [], "ts": [], "y": []}
    ind_cols: dict[str, list] = {"series_id": [], "ts": [], "x1": []}
    for k, (years, back) in enumerate(shapes):
        sid = first_id + k
        start = int(rng.integers(lo_s, hi_s + 1))
        n = years * 12 + back
        first = (start - 1970) * 12 - back
        # indicator: positive level + trend + AR(1) noise
        level = rng.uniform(50.0, 500.0)
        trend = rng.uniform(0.0, 0.02) * level
        e = rng.normal(0.0, 0.02 * level, n)
        phi = rng.uniform(0.3, 0.9)
        ar = np.empty(n)
        acc = 0.0
        for i in range(n):
            acc = phi * acc + e[i]
            ar[i] = acc
        x1 = np.maximum(level + trend * np.arange(n) / 12.0 + ar, 0.05 * level)
        # target: yearly sums of beta * x1 + alpha plus noise
        beta = rng.uniform(0.5, 2.0)
        alpha = rng.uniform(-0.05, 0.05) * level
        hf = beta * x1[back:] + alpha + rng.normal(0.0, 0.01 * level, years * 12)
        low_cols["series_id"].append(np.full(years, sid, dtype=np.int64))
        low_cols["ts"].append(_month_stamps(first + back + 12 * np.arange(years)))
        low_cols["y"].append(hf.reshape(years, 12).sum(axis=1))
        ind_cols["series_id"].append(np.full(n, sid, dtype=np.int64))
        ind_cols["ts"].append(_month_stamps(first + np.arange(n)))
        ind_cols["x1"].append(x1)
    os.makedirs(bdir, exist_ok=True)
    x1_all = np.concatenate(ind_cols["x1"])
    tables = {
        "low": pa.table({k: np.concatenate(v) for k, v in low_cols.items()}),
        "ind": pa.table({
            "series_id": np.concatenate(ind_cols["series_id"]),
            "ts": np.concatenate(ind_cols["ts"]),
            "x1": x1_all,
            "intercept": np.ones(len(x1_all)),
        }),
        "expect": pa.table({
            "series_id": np.arange(first_id, first_id + len(shapes), dtype=np.int64),
            "n_rows": np.asarray([y * 12 + b for y, b in shapes], dtype=np.int64),
            "n_years": np.asarray([y for y, _ in shapes], dtype=np.int64),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(bdir, f"{name}.parquet"), compression="snappy")



def generate(workload: str, seed: int, out_dir: str) -> dict:
    """(Re)create ``out_dir`` with the workload's inputs — ``block_<b>/``
    for every fleet block, or ``tpch/`` for ``tpch_disagg`` — plus the
    ``warmup/`` block every workload starts its workers with.  Returns the
    generator parameters."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    rng = _rng(workload, seed)
    if workload == "tpch_disagg":
        params = _write_tpch(rng, os.path.join(out_dir, "tpch"))
    else:
        spec = FLEETS[workload]
        first_id = 0
        for b, shapes in enumerate(fleet_shapes(workload)):
            bdir = os.path.join(out_dir, f"block_{b}")
            _write_block(rng, shapes, spec["start_year"], first_id, bdir)
            first_id += len(shapes)
        params = fleet_params(workload)
    _write_block(rng, WARMUP_SHAPES, (2000, 2000), WARMUP_FIRST_ID, os.path.join(out_dir, "warmup"))
    return {"workload": workload, "seed": int(seed), **params}


#: TPC-H order priorities, market segments and return flags
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
RETURN_FLAGS = ("A", "N", "R")


def _write_tpch(rng, tdir: str) -> dict:
    """Write ``{nation,customer,orders,lineitem}.parquet``: the columns the
    registry's disaggregation queries and their oracles read, with the
    sf0.1 test tables' types.  Prices are whole cents."""
    spec = TPCH
    n_o, n_c, n_s = spec["orders"], spec["customers"], spec["suppliers"]
    day0, day1 = (np.datetime64(d, "D") for d in spec["order_dates"])
    span_days = int((day1 - day0) / np.timedelta64(1, "D")) + 1
    # order volume triples and prices rise 4% a year over the span: yearly
    # indicator sums that stayed flat would be collinear with the intercept,
    # and a flat price would make shipped value collinear with quantity
    grow = rng.random(n_o) < 0.5
    frac = np.where(grow, np.sqrt(rng.random(n_o)), rng.random(n_o))
    o_date = day0 + np.minimum((frac * span_days).astype(np.int64), span_days - 1)
    prio = rng.integers(0, len(PRIORITIES), n_o)
    lo_l, hi_l = spec["lines_per_order"]
    lines = rng.integers(lo_l, hi_l + 1, n_o)
    l_order = np.repeat(np.arange(n_o), lines)
    n_l = len(l_order)
    qty = rng.integers(1, 51, n_l).astype(float)
    years_in = (o_date[l_order] - day0) / np.timedelta64(365, "D")
    ext = np.round(qty * rng.integers(90_000, 210_001, n_l) * (1.0 + 0.04 * years_in)) / 100.0
    net = ext * (1.0 - rng.integers(0, 11, n_l) / 100.0) * (1.0 + rng.integers(0, 9, n_l) / 100.0)
    lag_lo, lag_hi = spec["ship_lag_days"]
    lag = rng.integers(lag_lo, lag_hi + 1, n_l)
    # every priority ships in the first month, so no priority series'
    # indicator starts after its first target year (the engine rejects that)
    k = len(PRIORITIES)
    o_date[:k], prio[:k] = day0, np.arange(k)
    lag[np.cumsum(lines)[: k] - lines[:k]] = lag_lo
    ship = o_date[l_order] + lag
    tables = {
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
        }),
        "customer": pa.table({
            "c_custkey": np.arange(1, n_c + 1, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, len(SEGMENTS), n_c)],
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(1, n_o + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_c + 1, n_o).astype(np.int64),
            "o_totalprice": np.round(np.bincount(l_order, weights=net, minlength=n_o), 2),
            "o_orderdate": o_date.astype("datetime64[us]"),
            "o_orderpriority": np.asarray(PRIORITIES)[prio],
        }),
        "lineitem": pa.table({
            "l_orderkey": (l_order + 1).astype(np.int64),
            "l_suppkey": rng.integers(1, n_s + 1, n_l).astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": ext,
            "l_returnflag": np.asarray(RETURN_FLAGS)[rng.integers(0, len(RETURN_FLAGS), n_l)],
            "l_shipdate": ship.astype("datetime64[us]"),
        }),
    }
    os.makedirs(tdir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tdir, f"{name}.parquet"), compression="snappy")
    return {
        "orders": n_o, "lineitems": n_l, "customers": n_c, "suppliers": n_s, "nations": 25,
        "order_dates": list(spec["order_dates"]), "ship_lag_days": list(spec["ship_lag_days"]),
        "lines_per_order": list(spec["lines_per_order"]),
    }


def read_fleet_series(in_dir: str, workload: str) -> list[dict]:
    """Every generated series as numpy arrays, in workload (series id)
    order: ``{series_id, low_ts, y, ind_ts, x1}``."""
    out = []
    for b in range(FLEETS[workload]["blocks"]):
        bdir = os.path.join(in_dir, f"block_{b}")
        low = pq.read_table(os.path.join(bdir, "low.parquet")).to_pandas()
        ind = pq.read_table(os.path.join(bdir, "ind.parquet")).to_pandas()
        low_g = dict(tuple(low.groupby("series_id", sort=True)))
        for sid, grp in ind.groupby("series_id", sort=True):
            lo = low_g[sid]
            out.append({
                "series_id": int(sid),
                "low_ts": lo["ts"].to_numpy(),
                "y": lo["y"].to_numpy(),
                "ind_ts": grp["ts"].to_numpy(),
                "x1": grp["x1"].to_numpy(),
            })
    return out
