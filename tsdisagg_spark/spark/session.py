"""SparkSession factory with engine-appropriate defaults.

Tuned for the disaggregation workload: Arrow transfer for pandas
collection, adaptive execution for runtime re-planning (skew joins,
coalesced shuffle partitions), UTC session time so calendar arithmetic is
deterministic across engines, and Python workers started by
:mod:`tsdisagg_spark._worker_daemon`, which runs them on the installed
pyspark instead of Spark's ``pyspark.zip`` so no task re-reads the zip.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_DEFAULTS: dict[str, str] = {
    # Arrow for toPandas() and createDataFrame(pandas) (the tests and
    # perfbench collect results this way); grouped-map UDFs ship Arrow
    # batches whatever this says.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # AQE re-plans at runtime: coalesces small shuffle partitions, converts
    # sort-merge to broadcast joins when a side turns out small, splits skew.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Calendar determinism: period math must not depend on cluster locale.
    "spark.sql.session.timeZone": "UTC",
    # InferFiltersFromGenerate rewrites explode(expensive_expr) into
    # Filter(size(expensive_expr) > 0 AND isnotnull(expensive_expr)) +
    # Generate(expensive_expr): the full expression chain is then evaluated
    # THREE times per row instead of once, and predicate pushdown drags the
    # duplicated filter below any repartition — measured on the
    # exact-substring census (16-way zip_with shingle chain): the inferred
    # filter alone was a 6.0s single-task stage at sf0.1 while the real
    # shingle projection ran 32-way (plans/r13/exact_substring_overlap_*).
    # The rule only ever saves work when the generator input is a cheap
    # column reference, which is not this engine's shape — every dedup /
    # text / profiling operator explodes a COMPUTED shingle/band array.
    # Excluding an optimizer rule is semantics-preserving by contract.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Workers import pyspark from the installed package, not Spark's zips:
    # with the zips on PYTHONPATH every Python task's invalidate_caches()
    # re-reads ~27k archive records (0.09-0.27 s).  The archives stay when
    # the installed pyspark or py4j is missing or its version.py differs
    # from pyspark.zip's.  Sessions the engine did not build (such as the
    # one handed to __spark_entry__.entry) keep Spark's own daemon.
    "spark.python.daemon.module": "tsdisagg_spark._worker_daemon",
}


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Local-mode driver heap sized to this machine: half of ``MemTotal``
    (the other half is left to the Python workers and the OS), between 1g
    and 16g.  ``4g`` when ``meminfo`` is unreadable (no procfs)."""
    try:
        with open(meminfo) as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{min(max(total_kb // 2048, 1024), 16384)}m"


def get_spark(
    app_name: str = "tsdisagg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` outside a cluster;
    on a real cluster pass ``master=None`` with a pre-configured environment
    and only the SQL-level settings are applied.
    """
    # executor Python workers must be able to import this package: propagate
    # the package root through PYTHONPATH (grouped-map kernels are
    # cloudpickled by reference to the module, not by value)
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    # Pin BLAS/OpenMP intra-op threading to one thread per Python worker
    # (overridable via the environment).  Spark already runs one worker per
    # task slot, so library-level threading is pure oversubscription — and
    # this container's OpenBLAS pays a ~8 ms pool-synchronization penalty
    # PER LAPACK CALL when threading is enabled (measured: an 84x84
    # np.linalg.solve costs 7.9 ms threaded vs 0.077 ms pinned; one
    # chow-lin series solve 41.5 ms -> 3.6 ms).  Set in os.environ so
    # local-mode workers fork with it, and in executorEnv for clusters.
    thread_pins = {}
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
        thread_pins[var] = os.environ[var]

    builder = SparkSession.builder.appName(app_name)
    for var, val in thread_pins.items():
        builder = builder.config(f"spark.executorEnv.{var}", val)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        # Local mode = the driver JVM is the only executor, and its
        # default heap is 1g — 32 task slots sharing ~550MB of unified
        # memory. That starves window sorts into spills and fails
        # broadcast builds on data that is nowhere near big (a 10x
        # scale-stress run died broadcasting a dimension-sized frame).
        # Size the single JVM for the machine (SPARK_GRAFT_DRIVER_MEM
        # overrides); on a real cluster this branch never fires and
        # executor sizing is the deployment's job.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    for key, value in ENGINE_DEFAULTS.items():
        builder = builder.config(key, value)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
