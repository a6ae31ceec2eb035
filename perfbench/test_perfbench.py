"""Tests of the benchmark itself.  Run from the repository root::

    python3 -m pytest perfbench -q
"""

import os

for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import filecmp
import json
import shutil
import subprocess
import sys

import pytest

from perfbench import inputs, tpch, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLEETS = tuple(inputs.FLEETS)

#: tiny fleets: two blocks of a few series, same length ranges as the real ones
TINY = {
    "fleet_uniform": {"blocks": 2, "per_block": 4},
    "fleet_ragged": {"blocks": 2, "per_block": 4},
    "long_banded": {"blocks": 2, "per_block": 2, "replay_sample": 1},
}
#: a tiny TPC-H-shaped schema
TINY_TPCH = {"orders": 3000, "customers": 300, "suppliers": 10, "replay_sample": 2}


@pytest.fixture
def tiny(monkeypatch):
    for w, size in TINY.items():
        monkeypatch.setitem(inputs.FLEETS, w, {**inputs.FLEETS[w], **size})
    for key, value in TINY_TPCH.items():
        monkeypatch.setitem(inputs.TPCH, key, value)


def _files(d):
    return sorted(
        os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs
    )


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_same_seed_gives_identical_inputs(workload, tiny, tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    pa = inputs.generate(workload, 7, str(a))
    pb = inputs.generate(workload, 7, str(b))
    inputs.generate(workload, 8, str(c))
    assert pa == pb
    names = _files(a)
    assert names == _files(b) and names
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _match, mismatch, _errors = filecmp.cmpfiles(a, c, names, shallow=False)
    assert any(not n.startswith("warmup") for n in mismatch)


def test_fleet_designs():
    ragged = [s for blk in inputs.fleet_shapes("fleet_ragged") for s in blk]
    assert len(set(ragged)) == len(ragged)
    assert min(y for y, _ in ragged) == 5 and max(y for y, _ in ragged) == 30
    assert max(b for _, b in ragged) <= 36
    uniform = {s for blk in inputs.fleet_shapes("fleet_uniform") for s in blk}
    assert uniform == {(10, 0)}
    from tsdisagg_spark.kernels import BANDED_THRESHOLD

    long = [s for blk in inputs.fleet_shapes("long_banded") for s in blk]
    assert min(y * 12 + b for y, b in long) >= BANDED_THRESHOLD
    assert min(y for y, _ in long) == 170 and max(y for y, _ in long) == 200


@pytest.fixture(scope="module")
def spark():
    from tsdisagg_spark.spark.session import get_spark

    session = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "1g"},
    )
    yield session
    session.stop()


@pytest.mark.parametrize("workload", FLEETS)
def test_tiny_fleet_pass_is_correct(workload, tiny, spark, tmp_path):
    inputs.generate(workload, 3, str(tmp_path))
    block = str(tmp_path / "block_0")
    res = workloads.fleet_pass(spark, block, workloads.expected(block))
    assert res["attempted"] == TINY[workload]["per_block"]
    assert res["ok"] == res["attempted"] == res["series"]
    assert res["max_rel_err"] <= workloads.REAGG_RTOL


def test_tiny_tpch_pass_is_correct(tiny, spark, tmp_path):
    inputs.generate("tpch_disagg", 3, str(tmp_path))
    tdir = str(tmp_path / "tpch")
    exp = tpch.expected(tdir)
    res = tpch.tpch_pass(spark, tdir, exp)
    assert res["attempted"] == len(tpch.QUERY_NAMES)
    assert res["ok"] == res["attempted"], res
    assert res["series"] == sum(e["series"] for e in exp.values()) > 0


def test_tpch_check_catches_a_wrong_value():
    cols = ["series_id", "y"]
    exp = {"rows": tpch._canon(cols, [("a", 1.0), ("b", 2.0)]), "series": 2}
    assert tpch.check(cols, [("b", 2.0), ("a", 1.0)], exp)[0]
    assert tpch.check(cols, [("b", 2.005), ("a", 1.0)], exp)[0]
    assert not tpch.check(cols, [("b", 2.05), ("a", 1.0)], exp)[0]
    assert not tpch.check(cols, [("a", 1.0)], exp)[0]


def test_stolen_share_is_steal_over_demanded_time():
    from perfbench.probes import stolen_share

    # (steal, total, demanded) jiffies: 15 of 100 demanded were stolen
    assert stolen_share((5, 100, 20), (20, 1100, 120)) == pytest.approx(0.15)
    assert stolen_share((5, 100, 20), (5, 200, 20)) == 0.0
    assert stolen_share(None, (5, 200, 20)) == 0.0


@pytest.mark.parametrize("workload", ["fleet_ragged", "long_banded"])
def test_replay_times_every_layer(workload, tiny, tmp_path):
    from perfbench.probes import Tracer
    from tsdisagg_spark.kernels import BANDED_THRESHOLD

    inputs.generate(workload, 3, str(tmp_path))
    series = inputs.read_fleet_series(str(tmp_path), workload)
    tracer = Tracer("t")
    times = workloads.replay(series, 2, 3, tracer.span)
    assert all(len(v) == 2 for v in times.values())
    long = [len(s["x1"]) >= BANDED_THRESHOLD for s in series]
    assert all(long) or not any(long)
    assert times["banded"] == ([1.0, 1.0] if all(long) else [0.0, 0.0])
    top = [s for s in tracer.spans if s["name"] == "replay.series"]
    assert len(top) == 2
    selfs = tracer.self_times()
    assert all(0 <= selfs[s["id"]] < s["end"] - s["start"] for s in top)


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run_tiny(workload: str, trace: int) -> dict:
    code = (
        "import json, sys\n"
        "from perfbench import inputs, run\n"
        f"for w, s in json.loads({json.dumps(TINY)!r}).items(): inputs.FLEETS[w].update(s)\n"
        f"inputs.TPCH.update(json.loads({json.dumps(TINY_TPCH)!r}))\n"
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '5', "
        f"'--seconds', '0', '--trace', '{trace}']))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace", [("fleet_ragged", 0), ("long_banded", 1), ("tpch_disagg", 1)]
)
def test_output_carries_every_declared_metric(workload, trace):
    out = _run_tiny(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = _declared()["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    cmd = _declared()["command"] + ["--workload", "fleet_uniform", "--seed", "1",
                                    "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
