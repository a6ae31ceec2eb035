"""Period-labelling and timeline expressions — the relational half of
temporal disaggregation, expressed as Catalyst column expressions.

Everything here is built from built-in ``pyspark.sql.functions`` so it stays
inside whole-stage codegen: no UDFs, no Python in the hot path.  These are
the Spark equivalents of the reference's pandas ``to_period`` bucketing
(``/root/reference/tsdisagg/ts_disagg.py:60-66``) and ``date_range``
timeline synthesis (``time_conversion.py:224-253``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from tsdisagg_spark import frequency as freq


def period_label(ts: Column, family: str) -> Column:
    """Integer calendar-period label, identical to
    :func:`tsdisagg_spark.kernels.period_labels`.

    ``yearly`` -> ``year(ts)``; ``quarterly`` -> ``4*year + (month-1) div 3``;
    ``monthly`` -> ``12*year + month - 1``.  Pure arithmetic on the timestamp,
    so Catalyst can constant-fold, push filters through it, and keep it in
    codegen.
    """
    if family == freq.YEARLY:
        return F.year(ts)
    if family == freq.QUARTERLY:
        return F.year(ts) * F.lit(4) + F.floor((F.month(ts) - F.lit(1)) / F.lit(3)).cast("int")
    if family == freq.MONTHLY:
        return F.year(ts) * F.lit(12) + F.month(ts) - F.lit(1)
    raise freq.FrequencyError(f"Unsupported period family {family}")


def period_start(ts: Column, family: str, anchor_month: int = 1) -> Column:
    """Anchored period-start truncation.

    For the unanchored calendar case this is ``date_trunc``; for an anchored
    period (e.g. fiscal years starting in October: ``anchor_month=10``) the
    start is computed by month arithmetic:
    ``floor(months_since_anchor / span) * span`` months after the anchor.
    """
    span = freq.MONTHS_PER_PERIOD[family]
    if anchor_month == 1:
        unit = {"yearly": "year", "quarterly": "quarter", "monthly": "month"}[family]
        return F.date_trunc(unit, ts).cast("date")
    months = F.year(ts) * F.lit(12) + F.month(ts) - F.lit(anchor_month)
    periods = F.floor(months / F.lit(span))
    start_months = periods * F.lit(span) + F.lit(anchor_month - 1)
    return F.make_date(
        F.floor(start_months / F.lit(12)).cast("int"),
        (start_months % F.lit(12) + F.lit(1)).cast("int"),
        F.lit(1),
    )


def business_month_end(ts: Column) -> Column:
    """Last *business* day of the month containing ``ts`` — the Spark
    expression form of the reference's ``business_cal_adjust``
    (time_conversion.py:168-200, the ``B``-prefixed frequency snap):
    month-end snapped back off Saturday/Sunday.  Pure date arithmetic,
    stays in codegen."""
    month_end = F.last_day(ts)
    dow = F.dayofweek(month_end)  # 1=Sunday .. 7=Saturday
    return (
        F.when(dow == 1, F.date_sub(month_end, 2))
        .when(dow == 7, F.date_sub(month_end, 1))
        .otherwise(month_end)
    )
