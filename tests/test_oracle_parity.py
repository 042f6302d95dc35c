"""Replicates the driver's t2 correctness gate locally: every declared
query with an oracle must match DuckDB at sf0.001 (fast); run with
ORACLE_SF=/root/testdata/sf0.01 for the driver-scale check.

Runtime shape (VERDICT r12 item 2): ~900 parametrized Spark+DuckDB
tests dominate the suite's sequential wall-clock (~40 of ~60 minutes),
which made the driver's single-process ``pytest tests/`` run time out
at ~55% with zero failures. The module therefore self-shards: a plain
``pytest tests/`` run collects ONE orchestrator test per family that
fans the parametrized tests out over ``SPARK_GRAFT_PARITY_SHARDS``
concurrent subprocess pytest runs — every query is still executed and
compared, just in parallel sessions (local[4] each). The default shard
count is sized to the machine: one shard per two cores and per
``_SHARD_MEM_BYTES`` of available memory, at most 6, and each shard's
Spark driver gets a 2 GiB heap (the ``spark`` fixture in conftest.py
sees ``SPARK_GRAFT_PARITY_SHARD``). A fixed 6 shards with the suite's
8 GiB heap each, on a 4-core, 16 GiB host, filled memory within two
minutes and stalled the whole run; even two such shards grew to 4.5 GiB
resident each next to the suite's own 5.3 GiB JVM. Each shard also has
a time limit, so a stalled shard fails this test instead of holding
the suite.
Setting ``SPARK_GRAFT_PARITY_SHARD=i/n`` runs slice ``i`` of ``n``
in-process (what the subprocesses do; also the knob for running a
single shard by hand)."""

from __future__ import annotations

import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from spotify_data_pipeline_spark.plans import all_queries
from tests.oracle_check import compare, run_oracle

SF_DIR = os.environ.get("ORACLE_SF", "/root/testdata/sf0.001")

_QUERIES = all_queries()
_WITH_ORACLE = sorted(name for name, q in _QUERIES.items() if q.oracle)
_ROWS_ONLY = sorted(name for name, q in _QUERIES.items() if not q.oracle)

_SHARD = os.environ.get("SPARK_GRAFT_PARITY_SHARD", "")

# Peak resident memory of one shard (its Spark JVM plus pytest and the
# Python workers) at its 2 GiB heap, with headroom. The JVM's resident
# size grows towards its heap limit whatever the data.
_SHARD_MEM_BYTES = 4 << 30
# Two shards took 313 s together on 4 cores; a limit of about three
# times that still leaves the rest of the suite its time.
_SHARD_TIMEOUT_S = 900


def _available_memory_bytes() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _default_shards() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    n = (int(cpus) if cpus.isdigit() else os.cpu_count() or 1) // 2
    mem = _available_memory_bytes()
    if mem is not None:
        n = min(n, mem // _SHARD_MEM_BYTES)
    return max(1, min(6, n))


_N_SHARDS = max(
    1, int(os.environ.get("SPARK_GRAFT_PARITY_SHARDS", "0")) or _default_shards()
)

if _SHARD:
    _i, _n = (int(x) for x in _SHARD.split("/"))
    _WITH_ORACLE = _WITH_ORACLE[_i::_n]
    _ROWS_ONLY = _ROWS_ONLY[_i::_n]

    @pytest.mark.parametrize("name", _WITH_ORACLE)
    def test_oracle_match(spark, name):
        q = _QUERIES[name]
        result = q.fn(spark, SF_DIR)
        oracle = run_oracle(q.oracle, SF_DIR)
        errs = compare(result, oracle)
        assert not errs, f"{name}: " + "; ".join(errs)

    @pytest.mark.parametrize("name", _ROWS_ONLY)
    def test_rows_only_runs(spark, name):
        q = _QUERIES[name]
        result = q.fn(spark, SF_DIR)
        assert result.count() >= 0
        assert len(result.schema.fields) > 0

else:

    def _run_shard(i: int) -> tuple[int, int, str]:
        env = os.environ.copy()
        env["SPARK_GRAFT_PARITY_SHARD"] = f"{i}/{_N_SHARDS}"
        # each shard is its own Spark session; local[4] per conftest
        try:
            proc = subprocess.run(
                [
                    sys.executable,
                    "-m",
                    "pytest",
                    os.path.abspath(__file__),
                    "-q",
                    "--no-header",
                    "-p",
                    "no:cacheprovider",
                ],
                capture_output=True,
                text=True,
                env=env,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                timeout=_SHARD_TIMEOUT_S,
            )
        except subprocess.TimeoutExpired as e:
            out = e.stdout.decode() if isinstance(e.stdout, bytes) else e.stdout or ""
            return i, -1, f"timed out after {_SHARD_TIMEOUT_S} s\n" + out[-2000:]
        tail = (proc.stdout or "")[-2000:] + (proc.stderr or "")[-500:]
        return i, proc.returncode, tail

    def test_oracle_parity_all_shards():
        """Every declared query vs its DuckDB oracle (and every
        rows-only query executed), fanned out over concurrent
        subprocess shards — the full parity gate, parallelized so the
        whole suite fits the driver's pytest window."""
        with ThreadPoolExecutor(max_workers=_N_SHARDS) as pool:
            results = list(pool.map(_run_shard, range(_N_SHARDS)))
        failed = [(i, rc, tail) for i, rc, tail in results if rc != 0]
        msg = "\n\n".join(
            f"--- shard {i}/{_N_SHARDS} rc={rc} ---\n{tail}" for i, rc, tail in failed
        )
        assert not failed, f"{len(failed)} parity shard(s) failed:\n{msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))
