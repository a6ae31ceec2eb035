"""tsdisagg-spark: a PySpark-native temporal-disaggregation & analytics engine.

Capabilities mirror ``jessegrabowski/tsdisagg`` (Denton, Denton-Cholette,
Chow-Lin, Litterman temporal disaggregation) re-expressed Spark-first:
relational preprocessing as DataFrame/Catalyst plans, dense per-series
numerics as one grouped-map Arrow UDF stage, plus large-scale data-pipeline
operators (dedup, similarity search, text analysis, streaming windows).
"""

from tsdisagg_spark.disagg import disaggregate_series

__all__ = ["disaggregate_series"]
__version__ = "0.1.0"
