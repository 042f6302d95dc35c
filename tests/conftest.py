from __future__ import annotations

import os
import runpy
import sys

import pytest

# Test-only protobuf shim (vendor/sitecustomize.py): exposes the host
# cloud-sdk's vendored pure-Python protobuf as google.protobuf so the
# transformWithStateInPandas equivalence test executes instead of
# skipping (VERDICT r05/r06 item 6). Must run BEFORE any SparkSession
# exists: PYTHONPATH is inherited by the JVM-spawned Python workers,
# which need the same alias for the TWS state protocol.
_VENDOR = os.path.join(os.path.dirname(__file__), "..", "vendor")
_VENDOR = os.path.abspath(_VENDOR)
if os.path.isdir(_VENDOR):
    if _VENDOR not in sys.path:
        sys.path.insert(0, _VENDOR)
    _pp = os.environ.get("PYTHONPATH", "")
    if _VENDOR not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _VENDOR + (os.pathsep + _pp if _pp else "")
        )
    if "google.protobuf" not in sys.modules:
        runpy.run_path(os.path.join(_VENDOR, "sitecustomize.py"))

from spotify_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
# The driver's gate SF — shared named constant (ADVICE r11), so the
# tests, tools/simulate_window.py, and any future driver shim all agree
# by construction instead of by string coincidence.
from spotify_data_pipeline_spark.gatesf import GATE_SF_DIR as SF_ORACLE  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # A parity shard (tests/test_oracle_parity.py) runs beside the
    # suite's own session, so it gets a smaller heap to fit next to it.
    shard = os.environ.get("SPARK_GRAFT_PARITY_SHARD")
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
        driver_memory="2g" if shard else "8g",
    )
    yield s
