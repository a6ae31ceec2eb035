"""Storage layouts: period-partitioned parquet must prune at file-listing
time; series-bucketed tables must feed keyed aggregations shuffle-free."""

from pyspark.sql import functions as F

from tsdisagg_spark import sources
from tsdisagg_spark.queries import t

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes_directories(spark, tmp_path):
    orders = t(spark, SF, "orders")
    path = str(tmp_path / "orders_by_year")
    sources.write_partitioned(orders, path, ts_col="o_orderdate", granularity="year")

    pruned = sources.read_partitioned(spark, path, periods=["1996"], granularity="year")
    plan = _plan(pruned)
    assert "PartitionFilters" in plan
    filt = plan[plan.find("PartitionFilters") :].splitlines()[0]
    assert "p_year" in filt and "1996" in filt, filt

    # pruning is semantic too: only 1996 rows come back
    got = pruned.select(F.year("o_orderdate").alias("y")).distinct().collect()
    assert [r["y"] for r in got] == [1996]


def test_partitioned_roundtrip_preserves_rows(spark, tmp_path):
    orders = t(spark, SF, "orders")
    path = str(tmp_path / "orders_by_month")
    sources.write_partitioned(orders, path, ts_col="o_orderdate", granularity="month")
    back = sources.read_partitioned(spark, path)
    assert back.count() == orders.count()


def test_bucketed_aggregation_is_shuffle_free(spark, tmp_path):
    """The whole point of bucketing: groupBy on the bucket key reads the
    layout as a satisfied distribution — zero Exchange in the plan."""
    orders = t(spark, SF, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    sources.write_bucketed(
        orders,
        "tsd_test_orders_bucketed",
        bucket_col="o_custkey",
        n_buckets=8,
        sort_col="o_orderdate",
        path=str(tmp_path / "orders_bucketed"),
    )
    try:
        tb = sources.read_bucketed(spark, "tsd_test_orders_bucketed")
        agg = tb.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
        assert "Exchange" not in _plan(agg), _plan(agg)
        # and the data survives the round trip
        assert tb.count() == orders.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS tsd_test_orders_bucketed")


def test_bucketed_self_join_has_no_shuffle_exchange(spark, tmp_path):
    """A self-join on the bucket key must not hash-exchange either side
    (broadcast is disabled to force the sort-merge path bucketing serves)."""
    orders = t(spark, SF, "orders").select("o_custkey", "o_totalprice")
    sources.write_bucketed(
        orders,
        "tsd_test_orders_bucketed_j",
        bucket_col="o_custkey",
        n_buckets=8,
        sort_col=None,
        path=str(tmp_path / "orders_bucketed_j"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tb = sources.read_bucketed(spark, "tsd_test_orders_bucketed_j")
        j = tb.alias("a").join(tb.alias("b"), "o_custkey")
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS tsd_test_orders_bucketed_j")


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC source/sink parity: a table written as ORC reads back
    row-identical, and both filter pushdown and column pruning reach the
    ORC scan just as they do for parquet — the engine is not
    format-married."""
    src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "orders_orc")
    src.write.orc(path)

    back = spark.read.orc(path)
    assert back.count() == src.count()
    a = sorted(r.o_orderkey for r in src.select("o_orderkey").collect())
    b = sorted(r.o_orderkey for r in back.select("o_orderkey").collect())
    assert a == b

    q = back.filter(F.col("o_totalprice") > 200000.0).select(
        "o_orderkey", "o_totalprice"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "OrcScan" in plan or "FileScan orc" in plan, plan
    assert "PushedFilters: [" in plan and "GreaterThan(o_totalprice" in plan, plan
    # column pruning: the 9-column orders schema narrows to the 2 selected
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "o_orderdate" not in m[0], m


def test_merge_schema_evolution(spark, tmp_path):
    """Schema evolution across parquet batches: a later batch gains a
    column; mergeSchema reads the union schema with nulls backfilled —
    the append-only ingestion contract a long-lived corpus store needs."""
    path = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id"), F.lit("a").alias("source")).write.parquet(
        path
    )
    spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("source"), F.lit(0.5).alias("quality")
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "source", "quality"}
    rows = {r.id: (r.source, r.quality) for r in merged.collect()}
    assert rows[0] == ("a", None)  # old rows: new column null-backfilled
    assert rows[7] == ("b", 0.5)
    assert len(rows) == 8


def test_jsonl_roundtrip_with_schema_and_pruning(spark, tmp_path):
    """JSON-lines interchange (the training-data staging format): write a
    table as JSONL, read it back with an EXPLICIT schema (no inference
    pass over 100 TB), project two columns, and confirm the values
    round-trip and the scan's ReadSchema prunes to the projection."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": range(50),
            "text": [f"document number {i}" for i in range(50)],
            "lang": ["en", "de", "fr", "es", "it"] * 10,
            "n_chars": [float(17 + i % 5) for i in range(50)],
        }
    )
    src = str(tmp_path / "docs_jsonl")
    spark.createDataFrame(pdf).write.json(src)

    schema = "doc_id long, text string, lang string, n_chars double"
    back = spark.read.schema(schema).json(src)
    got = back.select("doc_id", "lang").orderBy("doc_id").collect()
    assert [r.lang for r in got] == list(pdf["lang"])

    plan = back.select("doc_id", "lang")._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    assert "text" not in plan.split("ReadSchema")[1][:200], (
        "projection did not prune the text column from the JSON scan"
    )
    # count respects all rows
    assert back.count() == 50


def test_table_handle_memo_reuses_plan_not_results(spark):
    """t() memoizes the immutable READ HANDLE per (session, dir, table) —
    plan/metadata reuse that skips the per-call InMemoryFileIndex +
    footer read (~170 ms at construction), never result caching: the
    handle is a logical plan, every action on it still scans parquet."""
    from tsdisagg_spark import queries as q

    a = t(spark, SF, "orders")
    assert t(spark, SF, "orders") is a  # same session+path -> same handle
    # a different directory is a different table
    assert t(spark, "/root/testdata/sf0.01", "orders") is not a
    # a different SESSION (fresh applicationId) must re-read: simulate by
    # clearing the cached app-id attribute and swapping the id the memo
    # keys on
    real_id = spark._tsdisagg_app_id
    try:
        spark._tsdisagg_app_id = real_id + "-other-session"
        assert t(spark, SF, "orders") is not a
    finally:
        spark._tsdisagg_app_id = real_id
    # the handle computes from disk on every action (no materialized rows
    # held by the memo): unpersisting everything leaves it fully usable
    assert a.limit(1).count() == 1
