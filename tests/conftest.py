import os

# Pin BLAS/OpenMP pools to one thread BEFORE any test module imports numpy:
# the engine's Python workers always run with this pin (spark/session.py
# sets it at session build, and local-mode workers fork with it), but the
# pytest driver process imports numpy first, and OpenBLAS sizes its pool at
# library load — so without this the kernel wall-time tests measure the
# threaded-pool sync penalty (~8 ms per small LAPACK call), a configuration
# the engine never runs in.  The 96k-point chow-lin fit of
# test_chow_lin_banded_96k_points runs the one O(n_low)-per-rho regression
# path in under a second pinned (single-threaded, 4-vCPU host).
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

# The pin above only works if numpy has NOT been imported yet (OpenBLAS
# sizes its pool at library load) and the env vars were not pre-set >1
# (setdefault).  If either escape hatch is open, the kernel wall-time
# tests would silently measure the threaded-pool configuration the engine
# never runs in — surface that loudly instead (ADVICE r13 #3).
import sys as _sys
import warnings as _warnings

if "numpy" in _sys.modules:
    _warnings.warn(
        "numpy was imported before tests/conftest.py set the BLAS "
        "single-thread pin — kernel wall-time tests may measure the "
        "threaded-pool configuration (ADVICE r13 #3)",
        stacklevel=1,
    )
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    if os.environ.get(_var, "1") != "1":
        _warnings.warn(
            f"{_var}={os.environ[_var]} was pre-set >1; the BLAS pin is "
            "ineffective and kernel wall-time tests may be inflated "
            "(ADVICE r13 #3)",
            stacklevel=1,
        )

import pytest


@pytest.fixture(scope="session")
def spark():
    from tsdisagg_spark.spark.session import get_spark

    session = get_spark(
        app_name="tsdisagg-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "2g"},
    )
    yield session
    session.stop()
