"""Spark-facing layer: distributed multi-series disaggregation, period
expressions, sources, and session helpers."""

from tsdisagg_spark.spark.disagg import disaggregate, fit_reports
from tsdisagg_spark.spark.periods import period_label, period_start

__all__ = [
    "disaggregate",
    "fit_reports",
    "period_label",
    "period_start",
]
