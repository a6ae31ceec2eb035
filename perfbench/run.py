"""Disaggregation benchmark: seeded workloads through the engine's public
Spark entry points, one closed-loop client, ``local[nproc]``.

Run from the repository root::

    python3 perfbench/run.py --workload fleet_uniform --seed 1 --seconds 8 --trace 0

Workloads (see ``perfbench/inputs.py`` for the generated inputs):

* ``fleet_uniform`` — many identical 10-year chow-lin series: per-series
  overhead outside the kernel; every series hits the kernel's V0 cache.
* ``fleet_ragged`` — 5-30 year series with staggered starts and backcast
  indicators, no two sharing a period structure: the dense kernel's cold
  (cache-missing) path.
* ``long_banded`` — 170-200 year series (2040-2400 months), one per task
  slot: the banded kernels, where the slowest task sets the wall.
* ``tpch_disagg`` — eight of the registry's disaggregation queries over a
  seeded TPC-H-shaped schema: relational work around few kernel solves.

A fleet pass solves one block of series through
:func:`tsdisagg_spark.spark.disagg.disaggregate`; a ``tpch_disagg`` pass
runs and collects eight ``QUERIES`` (see ``perfbench/tpch.py``).  Each run sets up once from a cold
start (engine import, JVM launch and session build, input generation, the
first grouped-map call: ``setup_s``), computes what correct outputs look
like, then runs passes — one request at a time — until ``--seconds`` have
passed and at least ``MIN_PASSES`` are done.  Every pass's output is
checked.

``--trace 0`` prints the end-to-end metrics: the median wall and the median
CPU-seconds (this process, the JVM and the Python workers) of one pass, ``setup_s``, and the
summed peak RSS of the process tree.  The two times, ``wall_s`` and
``setup_s``, are shown without hypervisor steal: each is scaled by
``1 - s``, where ``s`` is the share of the time the vCPUs wanted to run
that the hypervisor gave to other guests while it was measured
(:func:`perfbench.probes.stolen_share`).  On a shared host steal comes and
goes with the neighbours; unscaled walls and the shares are in the line
before the result.

``--trace 1`` alternates untraced and traced passes (spans, status-store
and ``/proc`` probes), then replays a sample of the workload's series
in this process, and prints the per-layer metrics.

The last stdout line is the result object; the line before it records the
host noise, the generator parameters and the per-pass figures.  Spans of a
traced run are written to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import os
import sys

# one BLAS thread per process, set before numpy loads: Spark already runs one
# Python worker per core
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse
import json
import math
import shutil
import statistics
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import inputs, probes, tpch, workloads  # noqa: E402

#: passes a run makes at least, so that every run of a workload makes the
#: same number: ``fleet_uniform`` passes are short and the JVM is still
#: compiling through the first few, so its median needs five; one
#: ``tpch_disagg`` pass (eight queries) already outlasts a run's measuring time
MIN_PASSES = {"fleet_uniform": 5, "tpch_disagg": 1}
MIN_FLEET_PASSES = 3
#: a traced run makes at most this many (untraced, traced) pairs
MAX_TRACE_PAIRS = 2
DRIVER_MEM = "1g"


def _prepare_env(run_dir: str) -> None:
    """Keep every temporary file the run makes (Python, JVM, Spark scratch)
    inside ``run_dir``, size the JVM heap explicitly, and render
    collected timestamps in UTC, as the query oracles do."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p99(xs: list[float]) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, math.ceil(0.99 * len(s)) - 1)])


class Bench:
    """One benchmark run of one workload: the cold set-up, the timed
    passes, the optional replay, and the metrics they yield."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.in_dir = os.path.join(self.run_dir, "inputs")
        self.tpch_dir = os.path.join(self.in_dir, "tpch")
        self.n = probes.nproc()
        self.tracer = probes.Tracer(f"{workload}-{seed}-{os.getpid()}") if trace else None
        # the span factory of set-up and replay; passes choose their own
        self.span = self.tracer.span if trace else probes.no_span
        self.spark = None
        self.params: dict = {}
        self.expected: dict = {}

    @property
    def is_fleet(self) -> bool:
        return self.workload in inputs.FLEETS

    @property
    def per_pass(self) -> int:
        """Operations one pass attempts: series (fleets) or queries."""
        if self.is_fleet:
            return inputs.FLEETS[self.workload]["per_block"]
        return len(tpch.QUERY_NAMES)

    # -- session ----------------------------------------------------------

    def _build_session(self):
        from tsdisagg_spark.spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.n}]",
            shuffle_partitions=self.n,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, import_s: float) -> dict:
        """The one cold set-up: JVM launch and session build, input
        generation, and the first grouped-map call.  ``import_s`` is the
        engine's import in this process, timed by the caller.  The expected
        outputs are computed after it and are not part of ``setup_s``."""
        span = self.span
        jiffies = probes.cpu_jiffies()
        with span("setup"):
            t0 = time.perf_counter()
            with span("spark.session.get_spark"):
                self.spark = self._build_session()
            t1 = time.perf_counter()
            with span("inputs.generate"):
                self.params = inputs.generate(self.workload, self.seed, self.in_dir)
            t2 = time.perf_counter()
            with span("spark.session.worker_warmup"):
                workloads.warm_up(self.spark, os.path.join(self.in_dir, "warmup"))
            t3 = time.perf_counter()
        stolen = probes.stolen_share(jiffies, probes.cpu_jiffies())
        with span("expected"):
            if self.is_fleet:
                blocks = inputs.FLEETS[self.workload]["blocks"]
                self.expected = {
                    b: workloads.expected(os.path.join(self.in_dir, f"block_{b}"))
                    for b in range(blocks)
                }
            else:
                self.expected = tpch.expected(self.tpch_dir)
        t4 = time.perf_counter()
        raw = import_s + t3 - t0
        return {"import_s": import_s, "get_spark_s": t1 - t0, "inputs_s": t2 - t1,
                "worker_warmup_s": t3 - t2, "raw_setup_s": raw, "stolen_share": stolen,
                "setup_s": raw * (1.0 - stolen), "expected_s": t4 - t3}

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for every process this
        run started."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline and len(probes.descendants()) > 1:
            time.sleep(0.2)
        for pid in probes.descendants()[1:]:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass

    # -- passes -----------------------------------------------------------

    def _solve(self, block: int, span) -> dict:
        if self.is_fleet:
            b = block % inputs.FLEETS[self.workload]["blocks"]
            block_dir = os.path.join(self.in_dir, f"block_{b}")
            return workloads.fleet_pass(self.spark, block_dir, self.expected[b], span)
        return tpch.tpch_pass(self.spark, self.tpch_dir, self.expected, span)

    def run_pass(self, i: int, block: int, traced: bool) -> dict:
        """Closed-loop request ``i`` — :meth:`_solve` of ``block`` — with its
        wall and the CPU of the whole process tree.  A traced pass also
        records spans and reads the status store and the workers' CPU; that
        probe time counts in its wall."""
        sc = self.spark.sparkContext
        group = f"pass-{i}"
        sc.setJobGroup(group, group)
        span = self.tracer.span if traced else probes.no_span
        cpu0 = probes.worker_cpu_s() if traced else 0.0
        tree0 = probes.tree_cpu_s()
        jiffies = probes.cpu_jiffies()
        t0 = time.perf_counter()
        with span("pass", index=i):
            try:
                rec = self._solve(block, span)
            except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
                traceback.print_exc()
                rec = {"attempted": self.per_pass, "ok": 0, "series": 0,
                       "plan_build_s": 0.0, "max_err": math.inf}
            if traced:
                with span("probes"):
                    rec["stats"] = probes.job_group_stats(self.spark, group)
                    rec["worker_cpu_s"] = probes.worker_cpu_s() - cpu0
        rec["raw_wall_s"] = time.perf_counter() - t0
        rec["stolen_share"] = probes.stolen_share(jiffies, probes.cpu_jiffies())
        rec["wall_s"] = rec["raw_wall_s"] * (1.0 - rec["stolen_share"])
        rec["cpu_s"] = probes.tree_cpu_s() - tree0
        rec["traced"] = traced
        return rec

    def timed_phase(self) -> tuple[list[dict], float]:
        """Passes until ``seconds`` have passed and enough are done; also
        returns the highest 1-minute load seen between passes.

        A traced run solves each block twice, once traced and once not, in
        pairs whose order alternates, so ``trace.overhead_frac`` compares
        the same work and is not biased by warming."""
        passes: list[dict] = []
        min_passes = MIN_PASSES.get(self.workload, MIN_FLEET_PASSES)
        step = 2 if self.trace else 1
        if self.trace:
            min_passes = min(min_passes, MAX_TRACE_PAIRS)
        max_load1 = os.getloadavg()[0]
        start = time.perf_counter()
        i = 0
        while True:
            if self.trace:
                pair = i // 2
                passes.append(self.run_pass(i, pair, traced=(i + pair) % 2 == 1))
            else:
                passes.append(self.run_pass(i, i, traced=False))
            max_load1 = max(max_load1, os.getloadavg()[0])
            i += 1
            done = i % step == 0 and i >= min_passes * step
            if done and time.perf_counter() - start >= self.seconds:
                break
        return passes, max_load1

    # -- metrics ----------------------------------------------------------

    def end_to_end(self, cycle, passes, peak_rss_mb) -> dict:
        return {
            "wall_s": (_median([p["wall_s"] for p in passes]), "s"),
            "cpu_s": (_median([p["cpu_s"] for p in passes]), "s"),
            "setup_s": (cycle["setup_s"], "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }

    def per_layer(self, cycle, passes, replay_times) -> dict:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]

        def stat(key):
            return _median([p["stats"][key] for p in traced])

        attempted = sum(p["attempted"] for p in passes)
        m = {
            "failed_frac": (1.0 - sum(p["ok"] for p in passes) / attempted, "frac"),
            "series_per_s": (_median([p["series"] / p["wall_s"] for p in plain]), "1/s"),
            "engine.import_s": (cycle["import_s"], "s"),
            "spark.session.get_spark_s": (cycle["get_spark_s"], "s"),
            "spark.session.worker_warmup_s": (cycle["worker_warmup_s"], "s"),
            "inputs.generate_s": (cycle["inputs_s"], "s"),
            "spark.plan_build_s": (_median([p["plan_build_s"] for p in plain]), "s"),
        }
        for key, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("tasks_failed", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
            ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
            ("spill_mb", "MB"),
        ):
            m[f"spark.{key}"] = (stat(key), unit)
        m["spark.disagg.kernel_stage_run_s"] = (stat("kernel_stage_run_s"), "s")
        m["spark.disagg.kernel_stage_python_s"] = (stat("kernel_stage_python_s"), "s")
        m["spark.disagg.kernel_task_skew"] = (stat("kernel_task_skew"), "ratio")
        worker_cpu = _median([p["worker_cpu_s"] for p in traced])
        m["workers.cpu_s"] = (worker_cpu, "s")
        # kernel time the replay predicts for one pass, against the CPU the
        # workers actually spent on it
        solve_ms = replay_times["kernels.solve_series"]
        kernel_s = statistics.fmean(solve_ms) / 1e3 * self._series_per_pass()
        m["spark.disagg.udf_overhead_frac"] = (
            1.0 - kernel_s / worker_cpu if worker_cpu > 0 else 0.0, "frac")
        for name in ("disagg.disaggregate_full", "kernels.solve_series"):
            m[f"{name}_ms.p50"] = (_median(replay_times[name]), "ms")
            m[f"{name}_ms.p99"] = (_p99(replay_times[name]), "ms")
        for name in ("disagg.prepare_inputs", "frequency.infer_code", "kernels.fit",
                     "kernels.conversion_matrix", "kernels.distribute"):
            m[f"{name}_ms.p50"] = (_median(replay_times[name]), "ms")
        m["replay.series"] = (float(len(solve_ms)), "count")
        m["replay.banded_frac"] = (statistics.fmean(replay_times["banded"]), "frac")
        m["trace.overhead_frac"] = (
            _median([p["wall_s"] for p in traced]) / _median([p["wall_s"] for p in plain]) - 1.0,
            "frac")
        return m

    def _series_per_pass(self) -> int:
        if self.is_fleet:
            return self.per_pass
        return sum(e["series"] for e in self.expected.values())

    def replay(self) -> dict[str, list[float]]:
        if self.is_fleet:
            series = inputs.read_fleet_series(self.in_dir, self.workload)
            sample = inputs.FLEETS[self.workload]["replay_sample"]
        else:
            series = tpch.replay_series(self.tpch_dir)
            sample = inputs.TPCH["replay_sample"]
        with self.span("replay"):
            return workloads.replay(series, sample, self.seed, self.span)

    def run(self, import_s: float) -> tuple[dict, dict]:
        load_before = os.getloadavg()
        jiffies = probes.cpu_jiffies()
        cycle = self.setup(import_s)
        passes, max_load1 = self.timed_phase()
        peak_rss_mb = probes.tree_peak_rss_mb()
        replay_times = self.replay() if self.trace else None
        attempted = sum(p["attempted"] for p in passes)
        failed = attempted - sum(p["ok"] for p in passes)
        metrics = (
            self.per_layer(cycle, passes, replay_times) if self.trace
            else self.end_to_end(cycle, passes, peak_rss_mb)
        )
        info = {
            "host": {
                "nproc": self.n,
                "load1_before": load_before[0],
                "load5_before": load_before[1],
                "load1_max_during": max(max_load1, os.getloadavg()[0]),
                "steal_pct": probes.steal_pct(jiffies, probes.cpu_jiffies()),
            },
            "inputs": self.params,
            "setup": {k: round(v, 4) for k, v in cycle.items()},
            "passes": len(passes),
            "pass_raw_walls_s": [round(p["raw_wall_s"], 4) for p in passes],
            "pass_stolen_share": [round(p["stolen_share"], 4) for p in passes],
            "pass_cpu_s": [round(p["cpu_s"], 4) for p in passes],
            "max_err": max(p.get("max_err", p.get("max_rel_err", 0.0)) for p in passes),
        }
        if not self.is_fleet:
            info["failed_queries"] = sorted({q for p in passes for q in p.get("failed_queries", [])})
            info["query_walls_s"] = {
                q: round(_median([p["query_walls_s"][q] for p in passes
                                  if "query_walls_s" in p and not p["traced"]]), 4)
                for q in tpch.QUERY_NAMES
            }
        result = {
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
        return info, result

    def write_trace(self) -> None:
        if self.tracer is None:
            return
        out = os.path.join(WORK, "traces")
        os.makedirs(out, exist_ok=True)
        self.tracer.dump(os.path.join(out, f"{self.workload}-seed{self.seed}.jsonl"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    try:
        import tsdisagg_spark.spark.disagg  # noqa: F401 — timed: the engine's import
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - t0
    import tsdisagg_spark

    found = os.path.dirname(os.path.dirname(os.path.abspath(tsdisagg_spark.__file__)))
    if found != ROOT:
        print(f"perfbench: the engine was imported from {found}, not {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _prepare_env(run_dir)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        info, result = bench.run(import_s)
        bench.write_trace()
    finally:
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
