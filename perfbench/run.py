#!/usr/bin/env python3
"""The repository's benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload llm_batch --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists and what it
stresses): ``llm_batch``, ``etl_daily``.

With ``--trace 0`` the last line of standard output is one JSON object
holding every end-to-end metric; with ``--trace 1`` it holds every
per-layer metric, and the run also writes its spans and reports the
tracing overhead against the last untraced run of the same workload.
Both write a full record under ``.perfbench_work/results/``. The exit
code is 0 only when every operation returned the right result.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """``time.monotonic()`` reading at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.monotonic() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import proctree  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("llm_batch", "etl_daily")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
}

_EXEC = ("jobs", "stages", "tasks", "single_task_stages", "task_s", "task_cpu_s", "gc_s")


def per_layer_names() -> dict[str, str]:
    """The per-layer metrics of the traced run's result line, with units."""
    from workloads import ETL_STAGES, LLM_QUERIES

    names = {
        "session.start_s": "s",
        "plans.registry_load_s": "s",
        "plans.build_s": "s",
        "plans.build_share": "ratio",
        "plans.plan_s": "s",
        "io.load_s": "s",
        "io.input_mb": "MiB",
        "exec.action_s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.single_task_stages": "count",
        "exec.task_s": "s",
        "exec.task_cpu_s": "s",
        "exec.gc_s": "s",
        "exec.core_util": "ratio",
        "exec.sched_wait_s": "s",
        "exec.shuffle_write_mb": "MiB",
        "exec.shuffle_read_mb": "MiB",
        "exec.spill_mb": "MiB",
        "exec.failed_tasks": "count",
        "py.rows_to_python": "count",
        "py.rows_from_python": "count",
        "py.mb_to_python": "MiB",
        "py.worker_cpu_s": "s",
        "proc.jit_s": "s",
        "proc.peak_rss_mb": "MiB",
        "proc.jvm_rss_mb": "MiB",
        "proc.py_workers_rss_mb": "MiB",
    }
    for q in LLM_QUERIES:
        names[f"query.{q}.s"] = "s"
    for stage in ETL_STAGES:
        names[f"etl.{stage}_s"] = "s"
    for zone in ("bronze", "silver", "gold"):
        names[f"etl.files_written.{zone}"] = "count"
        names[f"etl.mb_written.{zone}"] = "MiB"
    names["etl.write_amp"] = "ratio"
    return names


# ---------------------------------------------------------------------------
# Environment
# ---------------------------------------------------------------------------


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _host_cpu() -> tuple[float, float]:
    """Busy and stolen CPU seconds of the whole machine since boot (all
    cores). Stolen time is time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]] + [0] * 8
    tick = os.sysconf("SC_CLK_TCK")
    busy = sum(fields[:3]) + sum(fields[5:7])  # user nice system irq softirq
    return busy / tick, fields[7] / tick


def _tree_sha256(root: str, sub: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(root, sub))):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith((".py", ".parquet")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit(root: str) -> str | None:
    """The checkout's commit when it is a git work tree, else None."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _program_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "spotify_data_pipeline_spark", "__init__.py")) and (
        os.path.isfile(os.path.join(root, "tests", "oracle_check.py"))
    )


# ---------------------------------------------------------------------------
# Shutdown
# ---------------------------------------------------------------------------


def stop_spark(bench) -> None:
    """Stop the session, then the JVM it launched and the JVM's Python
    workers, and wait until each process has ended."""
    children = [p for p in proctree.tree(os.getpid()) if p != os.getpid()]
    from pyspark import SparkContext

    if bench is not None and bench.spark is not None:
        bench.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = proctree.wait_gone(children, 30)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proctree.wait_gone(left, 10)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def end_to_end(res, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "pass_s": stats.median(res.pass_s),
        "cpu_s": stats.median(res.cpu_s),
    }


def per_layer(workload: str, bench, res, sampler, e2e: dict) -> dict[str, float]:
    """Every per-layer metric; 0 where the workload does not use that layer."""
    from workloads import LLM_QUERIES

    out = dict.fromkeys(per_layer_names(), 0.0)
    out.update(bench.layers)
    out.update(res.layers)
    # Request ids of pass k start with "p<k>|".
    prefixes = [f"p{k}|" for k in range(res.notes["passes"])]

    spans = bench.spans
    for metric, span in (("plans.build_s", "plans.build"), ("plans.plan_s", "plans.plan"),
                         ("io.load_s", "io.load_table"), ("exec.action_s", "exec.action")):
        out[metric] = stats.median([spans.total(span, p) for p in prefixes])
    if workload == "etl_daily":
        from workloads import ETL_STAGES

        for stage in ETL_STAGES:
            out[f"etl.{stage}_s"] = stats.median([spans.total(f"etl.{stage}", p) for p in prefixes])
    # Share of request latency spent building plans.
    requests = stats.median([spans.total("request", p) for p in prefixes])
    out["plans.build_share"] = out["plans.build_s"] / requests if requests else 0.0

    counts = tracing.parse_event_log(bench.eventlog_dir)
    passes = []
    for p in prefixes:
        total: dict[str, float] = {}
        for tag, c in counts.items():
            if tag.startswith(p):
                for k, v in c.items():
                    total[k] = total.get(k, 0.0) + v
        passes.append(total)

    def from_log(key: str, scale: float = 1.0) -> float:
        return stats.median([t.get(key, 0.0) * scale for t in passes])

    for k in _EXEC:
        out[f"exec.{k}"] = from_log(k)
    tasks = sum(t.get("tasks", 0.0) for t in passes)
    wait = sum(t.get("sched_wait_s", 0.0) for t in passes)
    out["exec.sched_wait_s"] = wait / tasks if tasks else 0.0
    out["exec.core_util"] = out["exec.task_s"] / (e2e["pass_s"] * bench.cores) if e2e["pass_s"] else 0.0
    mb = 1 / 2**20
    out["exec.shuffle_write_mb"] = from_log("shuffle_write_bytes", mb)
    out["exec.shuffle_read_mb"] = from_log("shuffle_read_bytes", mb)
    out["exec.spill_mb"] = from_log("spill_bytes", mb)
    out["exec.failed_tasks"] = sum(t.get("failed_tasks", 0.0) for t in passes)
    out["io.input_mb"] = from_log("input_bytes", mb)
    out["py.rows_to_python"] = from_log("py_rows_in")
    out["py.rows_from_python"] = from_log("py_rows_out")
    out["py.mb_to_python"] = from_log("py_bytes_sent", mb)
    out["py.worker_cpu_s"] = stats.median(res.py_cpu_s)
    out["proc.jit_s"] = stats.median(res.jit_s)
    out["proc.peak_rss_mb"] = sampler.peak["total"]
    out["proc.jvm_rss_mb"] = sampler.peak["jvm"]
    out["proc.py_workers_rss_mb"] = sampler.peak["py_worker"]
    if workload == "llm_batch":
        for q in LLM_QUERIES:
            lat = [op.latency_s for op in res.ops if op.name == q and op.ok]
            if lat:
                out[f"query.{q}.s"] = stats.median(lat)
    return out


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def _parse(argv) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _run_workload(args, bench, root: str):
    import workloads

    if args.workload == "llm_batch":
        return workloads.run_batch(bench, root, workloads.LLM_QUERIES, workloads.LLM_SF)
    return workloads.run_etl(bench, root)


def main(argv=None) -> int:
    args = _parse(argv)
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not _program_present(root):
        print("perfbench: run from the root of a checkout of the repository "
              "(spotify_data_pipeline_spark/ and tests/oracle_check.py not found)", file=sys.stderr)
        return 2

    cores = _cores()
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    results = os.path.join(base, "results")
    for d in (work, os.path.join(work, "tmp"), os.path.join(work, "spark-local"), results):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # Every JVM (the spark-submit launcher too) keeps its temporary files
    # in the run's directory and writes no /tmp/hsperfdata_* file.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]))
    sys.path.insert(0, root)
    os.chdir(work)  # spark-warehouse/ and other relative writes land here

    import workloads

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "mem_total_mb": round(_meminfo_mb()),
        "driver_memory": workloads.DRIVER_MEMORY,
        "loadavg_before": _loadavg(),
        "commit": _commit(root),
        "program_sha256": _tree_sha256(root, "spotify_data_pipeline_spark"),
        "python": sys.version.split()[0],
    }
    bench = workloads.Bench(args.seed, args.seconds, bool(args.trace), work, cores)
    busy0, steal0 = _host_cpu()
    cpu0 = proctree.cpu_seconds(os.getpid())["total"]
    try:
        with proctree.RssSampler(os.getpid()) as sampler:
            bench.sampler = sampler
            res = _run_workload(args, bench, root)
            busy1, steal1 = _host_cpu()
            cpu1 = proctree.cpu_seconds(os.getpid())["total"]
            if args.trace:
                bench.spark.stop()  # flushes the event log
        setup_s = bench.first_timed_at - PROCESS_START - bench.excluded_s
        e2e = end_to_end(res, setup_s)
        layers = per_layer(args.workload, bench, res, sampler, e2e) if args.trace else None
        env["table_sha256"] = _tree_sha256(work, "data") if os.path.isdir(os.path.join(work, "data")) else None
    finally:
        stop_spark(bench)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_after"] = _loadavg()
    env["other_cpu_s"] = round(max(0.0, (busy1 - busy0) - (cpu1 - cpu0)), 2)
    env["steal_s"] = round(steal1 - steal0, 2)

    attempted = max(1, len(res.ops) + res.warmup_ops)
    failures = res.warmup_failures + res.notes.get("errors", [])
    failed = len(res.warmup_failures) + sum(not op.ok for op in res.ops)
    correct = failed == 0

    record = {"env": env, "notes": res.notes, "end_to_end": e2e, "per_layer": layers,
              "peak_rss_mb_by_role": sampler.peak,
              "rss_series": [[round(t - PROCESS_START, 1)] + [round(x) for x in v] for t, *v in sampler.series][::5],
              "samples": {"pass_s": res.pass_s, "cpu_s": res.cpu_s, "jit_s": res.jit_s,
                          "latency_s": [op.latency_s for op in res.ops if op.ok]},
              "failures": failures, "attempted": attempted, "failed": failed}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        spans_path = os.path.join(results, f"spans-{args.workload}-seed{args.seed}.jsonl")
        bench.spans.write(spans_path)
        record["spans"] = os.path.relpath(spans_path, root)
        record["tracing_overhead_pass_s"] = _tracing_overhead(results, args.workload, e2e["pass_s"])
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    _report(record, res)
    metrics = layers if args.trace else e2e
    units = per_layer_names() if args.trace else END_TO_END
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items() if k in units},
    }))
    return 0 if correct else 1


def _tracing_overhead(results: str, workload: str, traced_pass_s: float) -> float | None:
    """Traced pass_s minus the pass_s of the newest untraced record of
    the same workload, or None when there is none."""
    best, newest = None, -1.0
    prefix = f"{workload}-seed"
    for name in os.listdir(results):
        if name.startswith(prefix) and name.endswith("-trace0.json"):
            path = os.path.join(results, name)
            if os.path.getmtime(path) > newest:
                newest, best = os.path.getmtime(path), path
    if best is None:
        return None
    with open(best) as fh:
        return traced_pass_s - json.load(fh)["end_to_end"]["pass_s"]


def _report(record: dict, res) -> None:
    """Human-readable summary; the machine-readable line follows it."""
    env = record["env"]
    print(f"perfbench {env['workload']} seed={env['seed']} seconds={env['seconds']} "
          f"trace={env['trace']} cores={env['cores']} driver_memory={env['driver_memory']} "
          f"mem_total_mb={env['mem_total_mb']}")
    print(f"  commit={env['commit']} program_sha256={env['program_sha256']} "
          f"table_sha256={env.get('table_sha256')}")
    print(f"  loadavg before={env['loadavg_before']} after={env['loadavg_after']} "
          f"other_cpu_s={env['other_cpu_s']} steal_s={env['steal_s']}")
    print(f"  notes={json.dumps(res.notes, default=str)[:600]}")
    lat = [op.latency_s * 1000 for op in res.ops if op.ok]
    tail = stats.tail_percentile(lat)
    print(f"  samples: passes={len(res.pass_s)} ops={len(res.ops)} "
          f"latency_tail={tail and {k: round(v, 2) for k, v in tail.items()}}")
    for k, v in record["end_to_end"].items():
        print(f"  {k:>16} = {v:.4f} {END_TO_END[k]}")
    print("  peak rss MiB: " + " ".join(f"{k}={v:.0f}" for k, v in record["peak_rss_mb_by_role"].items()))
    if record["per_layer"]:
        units = per_layer_names()
        for k, v in record["per_layer"].items():
            print(f"  {k:>40} = {v:.4f} {units.get(k, '')}")
        print(f"  spans: {record['spans']}")
        over = record["tracing_overhead_pass_s"]
        print("  tracing overhead (traced pass_s - untraced pass_s): "
              + (f"{over:+.4f} s" if over is not None else "no untraced record of this workload yet"))
    print(f"  attempted={record['attempted']} failed={record['failed']}")
    for f in record["failures"][:20]:
        print(f"  FAILED {f}")


if __name__ == "__main__":
    sys.exit(main())
