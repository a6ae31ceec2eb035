"""The disaggregation queries leave it to the kernel to decide which series
can be solved: under ``errors='skip'`` a series that ``prepare_inputs``
rejects is dropped.  Their DuckDB oracles restate that input contract as an
``elig`` CTE.  These tests build a seeded TPC-H-shaped schema holding one
healthy series plus one series of each rejected kind, and check that the
engine and the oracles agree on every kind:

* ``LATE`` — the indicator starts after the target,
* ``GAP``  — a month is missing,
* ``HOLE`` — a low year is missing,
* ``TWO``  — exactly two low periods (no inferable frequency).

sf0.001 does not contain every kind, so ``test_queries.py`` alone cannot
catch an oracle that drifts from the kernel on one of them.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest
from test_queries import canon

from tsdisagg_spark.disagg import disaggregate_full
from tsdisagg_spark.queries import QUERIES, oracle_sql

FIRST, LAST = "2000-01", "2005-12"


def _months(first=FIRST, last=LAST, skip=()):
    months = pd.period_range(first, last, freq="M")
    return [m for m in months if str(m) not in skip and str(m.year) not in skip]


# series kind -> its months (orders for the target, shipments for the
# indicator); every kind's months lie inside the healthy kind's
NATIONS = {  # name -> (order months, ship months), for disagg_litterman_nation
    "N_FULL": (_months(), _months()),
    "N_LATE": (_months(), _months(first="2000-03")),
    "N_GAP": (_months(), _months(skip={"2002-06"})),
    "N_HOLE": (_months(skip={"2002"}), _months()),
    "N_TWO": (_months("2001-01", "2002-12"), _months()),
}
SEGMENTS = {  # name -> order months, for the two Denton queries
    "FULL": _months(),
    "LATE": _months(first="2000-03"),
    "GAP": _months(skip={"2002-06"}),
    "HOLE": _months(skip={"2002"}),
    "TWO_Y": _months("2001-01", "2002-12"),
    "TWO_Q": _months("2001-01", "2001-06"),
}
SUPPLIERS = {  # suppkey -> ship months, for disagg_chow_lin_suppliers
    1: _months(),
    2: _months(first="2000-03"),
    3: _months(skip={"2002-06"}),
    4: _months(skip={"2002"}),
    5: _months("2001-01", "2002-12"),
}

#: the series each query solves: the healthy one, plus, for the quarterly
#: companion query, every segment whose quarters are gap-free and >= 3
SOLVED = {
    "disagg_chow_lin_suppliers": {1},
    "disagg_litterman_nation": {"N_FULL"},
    "disagg_denton_mean": {"FULL"},
    "disagg_denton_companion": {"FULL", "LATE", "GAP", "TWO_Y"},
}
TABLES = ("nation", "customer", "orders", "lineitem")


def _write_schema(out_dir, seed=11):
    """``nation``, ``customer``, ``orders`` and ``lineitem`` with one order
    (or shipment) per series and month, on random days and at continuous
    random prices (no half-cent rounding ties between the engines)."""
    rng = np.random.default_rng(seed)

    def stamp(month):
        day = int(rng.integers(0, 28))
        return month.to_timestamp() + pd.Timedelta(days=day)

    nations = list(NATIONS)
    # nation-role customers sit in segment FULL, segment-role ones in
    # nation N_FULL: both add only months their host series already has
    customers = [(nation, "FULL") for nation in nations]
    customers += [("N_FULL", seg) for seg in SEGMENTS if seg != "FULL"]
    orders, lineitems = [], []

    def order(custkey, month):
        orders.append((len(orders) + 1, custkey, stamp(month), rng.uniform(100, 1000)))
        return len(orders)

    def ship(orderkey, suppkey, month):
        lineitems.append(
            (orderkey, suppkey, stamp(month), rng.uniform(50, 500), rng.uniform(1, 50))
        )

    for custkey, (nation, seg) in enumerate(customers):
        if seg != "FULL":
            for month in SEGMENTS[seg]:
                order(custkey, month)
            continue
        order_months, ship_months = NATIONS[nation]
        keys = [order(custkey, month) for month in order_months]
        for month in ship_months:
            ship(keys[0], 1, month)
    host = next(k for k, o in enumerate(orders) if o[1] == 0) + 1  # an N_FULL order
    for suppkey, months in SUPPLIERS.items():
        for month in months:
            ship(host, suppkey, month)

    frames = {
        "nation": pd.DataFrame(
            {"n_nationkey": np.arange(len(nations), dtype="int32"), "n_name": nations}
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(len(customers), dtype="int64"),
                "c_nationkey": np.array(
                    [nations.index(n) for n, _ in customers], dtype="int32"
                ),
                "c_mktsegment": [s for _, s in customers],
            }
        ),
        "orders": pd.DataFrame(
            orders, columns=["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]
        ),
        "lineitem": pd.DataFrame(
            lineitems,
            columns=["l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice",
                     "l_quantity"],
        ),
    }
    for name, frame in frames.items():
        # microsecond stamps: Spark's reader rejects parquet TIMESTAMP(NANOS)
        frame.to_parquet(out_dir / f"{name}.parquet", index=False, coerce_timestamps="us")


@pytest.fixture(scope="module")
def contract_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("disagg_contract")
    _write_schema(out)
    return str(out)


def _oracle(sf_dir, name):
    con = duckdb.connect()
    try:
        for table in TABLES:
            con.execute(
                f"CREATE VIEW {table} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
            )
        res = con.execute(oracle_sql()[name])
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def _rows(cols, rows):
    """Rows as sorted tuples of canonical cells, columns in name order."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(SOLVED))
def test_engine_contract_equals_oracle_contract(name, spark, contract_dir):
    """Each query solves exactly the series its oracle's ``elig`` CTE keeps,
    and returns the oracle's rows for them."""
    d_cols, d_rows = _oracle(contract_dir, name)
    sid = d_cols.index("series_id")
    assert {r[sid] for r in d_rows} == SOLVED[name]

    sdf = QUERIES[name](spark, contract_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    assert sorted(sdf.columns) == sorted(d_cols)
    assert _rows(sdf.columns, s_rows) == _rows(d_cols, d_rows)


@pytest.mark.parametrize(
    "name, series",
    [("disagg_denton_mean", "TWO_Y"), ("disagg_denton_companion", "TWO_Q")],
)
def test_oracles_reject_two_period_series(name, series, contract_dir):
    """A series with two low periods has no inferable frequency, so the
    engine skips it; the Denton oracles must drop it too (they once kept
    any series with at least two periods)."""
    low = pd.DataFrame(
        {"y": [1.0, 2.0]}, index=pd.DatetimeIndex(["2001-01-01", "2002-01-01"])
    )
    with pytest.raises(ValueError, match="frequency"):
        disaggregate_full(low, None, method="denton", target_freq="MS", verbose=False)

    cols, rows = _oracle(contract_dir, name)
    sid = cols.index("series_id")
    assert series not in {r[sid] for r in rows}
