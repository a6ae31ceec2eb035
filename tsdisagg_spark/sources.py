"""Storage-layout sources and sinks — the half of the 100 TB story that
lives in the data layout rather than the query plan.

Two layouts matter for this engine's workloads:

* **Period-partitioned parquet** (``write_partitioned`` /
  ``read_partitioned``): directory partitioning on a derived period column
  (e.g. ``p_month=2024-01``).  A query filtering on the period touches only
  the matching directories — partition PRUNING happens at file-listing
  time, before any I/O, which at 100 TB is the difference between scanning
  a month and scanning a decade.  Plan-asserted in
  tests/test_plans.py (``PartitionFilters``).

* **Series-bucketed tables** (``write_bucketed``): ``bucketBy(series)``
  pre-hashes rows into a fixed number of bucket files per partition.  An
  aggregation or a self-join on the series key reads the bucketing as a
  satisfied distribution requirement and SKIPS ITS SHUFFLE entirely, so a
  recurring keyed workload pays that exchange once at write time.  The
  disaggregation kernel stage is not among them: it repartitions to one
  partition per core whatever the layout, so it keeps its one exchange.
  Bucketed tables go through the session catalog (``saveAsTable``;
  parquet ``save`` cannot record bucket metadata).

The reference library has no storage layer at all (it ingests pandas
objects, SURVEY.md section 2.1); both layouts here are the idiomatic Spark
mechanisms a cluster deployment of the same workloads would use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    granularity: str = "month",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet partitioned by a derived period directory
    column ``p_<granularity>`` (kept as ``yyyy-MM-...`` strings so the
    directory names sort lexically = chronologically)."""
    fmt = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd"}
    if granularity not in fmt:
        raise ValueError(f"granularity must be one of {sorted(fmt)}")
    part_col = f"p_{granularity}"
    (
        df.withColumn(part_col, F.date_format(F.col(ts_col), fmt[granularity]))
        .write.mode(mode)
        .partitionBy(part_col)
        .parquet(path)
    )


def read_partitioned(
    spark: SparkSession,
    path: str,
    periods: list[str] | None = None,
    granularity: str = "month",
) -> DataFrame:
    """Read a period-partitioned dataset, optionally pruned to ``periods``
    (values of the partition column, e.g. ``["2024-01", "2024-02"]``).

    The filter is expressed on the partition column so Catalyst turns it
    into a PartitionFilter — pruned directories are never even listed into
    the scan.  Partition-column TYPE inference may read the written strings
    back as int (``p_year``) or date (``p_day``); the filter runs against
    the inferred type (Spark folds the string literals, so pruning still
    fires), and the column is then cast back to string so the round-tripped
    schema matches what ``write_partitioned`` wrote."""
    part_col = f"p_{granularity}"
    df = spark.read.parquet(path)
    if periods is not None:
        df = df.filter(F.col(part_col).isin(periods))
    return df.withColumn(part_col, F.col(part_col).cast("string"))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str = "series_id",
    n_buckets: int = 16,
    sort_col: str | None = "ts",
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally per-bucket sorted)
    catalog table.  ``n_buckets`` fixes the hash fan-out: every downstream
    operator that needs hash distribution on ``bucket_col`` at <=
    ``n_buckets`` parallelism reads it shuffle-free.  ``path`` makes it an
    external table at that location instead of the session warehouse.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back through the catalog (the bucket metadata
    only survives the catalog path — ``spark.read.parquet`` on the same
    files would forget it and reintroduce the exchange)."""
    return spark.table(table)
