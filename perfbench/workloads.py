"""The benchmark's workloads, run against the package's public functions.

Every workload has the same shape: make inputs (not timed), start the
session and load the query registry, run one untimed warm-up pass that
also checks results against an independent oracle, then measure until
the run's time is up. Each measured operation is checked again.

Layers are timed from outside, by wrapping the calls the benchmark makes
into ``session.get_spark``, ``plans.registry``, the declared query
builders (``q.fn``), ``io.load_table``, the query's action and the
``pipeline.etl`` stage functions.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import zlib
from dataclasses import dataclass, field

import numpy as np

import datagen
import proctree
import stats
import tracing

# Headline LLM/text/similarity queries: explode-heavy kernels and
# MinHash/Bloom/PQ operators.
LLM_QUERIES = (
    "dedup_exact_passage", "dedup_minhash_lsh", "llm_decontam_bloom",
    "llm_doc_chunking", "llm_tfidf_top_terms", "sim_cosine_topk",
    "sim_pq_adc_topk", "text_bm25_topk", "text_token_stats",
    "text_url_domain_stats",
)
# Input sizes. The scale factor and the ETL catalog are sized so that
# the warm-up plus several measured passes fit one run.
LLM_SF = 0.02
ETL_ARTISTS = 100
# With one warm-up day the first measured day still spent twice the JIT
# time of the next one, and passes of a run differed by up to 30%.
ETL_WARMUP_DAYS = 2
DRIVER_MEMORY = "2g"
ETL_KEYS = {
    "artist": ("artist_id",),
    "album": ("album_id",),
    "album_artists": ("artist_id", "album_id"),
    "track": ("track_id",),
    "track_artists": ("track_id", "artist_id"),
}
ETL_STAGES = ("extract_artists", "extract_albums", "extract_tracks", "transform", "load")


@dataclass
class Op:
    """One measured operation: a query, a request or a daily run."""
    name: str
    latency_s: float
    ok: bool


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    cpu_s: list[float] = field(default_factory=list)
    py_cpu_s: list[float] = field(default_factory=list)
    jit_s: list[float] = field(default_factory=list)
    warmup_ops: int = 0
    warmup_failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


class Bench:
    """State shared by a run: the session, tracing, timers and the clock."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str, cores: int) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cores = cores
        self.rng = np.random.default_rng(seed)
        self.spans = tracing.Spans()
        self.excluded_s = 0.0  # input generation, oracle and checking work
        self.first_timed_at: float | None = None
        self.spark = None
        self.registry = None
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.layers: dict[str, float] = {}
        self.sampler: proctree.RssSampler | None = None

    # -- time accounting -------------------------------------------------
    @contextlib.contextmanager
    def excluded(self):
        """Time spent inside is the benchmark's own work; before the
        first timed operation it is left out of the set-up time."""
        t0 = time.monotonic()
        try:
            yield
        finally:
            if self.first_timed_at is None:
                self.excluded_s += time.monotonic() - t0

    def start_measuring(self) -> float:
        self.first_timed_at = time.monotonic()
        return self.first_timed_at

    def span(self, name: str, request: str | None = None):
        """A span in the traced run; nothing otherwise."""
        if not self.trace:
            return contextlib.nullcontext()
        return self.spans.span(name, request)

    # -- set-up ------------------------------------------------------------
    def start_session(self) -> None:
        from spotify_data_pipeline_spark.session import get_spark

        # A fixed heap size (-Xms equal to the driver memory) keeps the
        # resident size from depending on when the collector grows the heap.
        conf = {
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        t0 = time.monotonic()
        with self.span("session.get_spark", "setup"):
            self.spark = get_spark(
                app_name="perfbench", driver_memory=DRIVER_MEMORY, extra_conf=conf
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.monotonic() - t0

    def load_registry(self) -> None:
        t0 = time.monotonic()
        with self.span("plans.registry", "setup"):
            from spotify_data_pipeline_spark.plans.registry import all_queries

            self.registry = all_queries()
        self.layers["plans.registry_load_s"] = time.monotonic() - t0
        if self.trace:
            self._wrap_load_table()

    def _wrap_load_table(self) -> None:
        """Route every module's ``load_table`` through a timing wrapper.
        Query modules import the function by name, so each module's
        reference is replaced, not just ``io.load_table``."""
        import spotify_data_pipeline_spark.io as sio

        original = sio.load_table
        wrapped = tracing.timed_wrapper(self.spans, "io.load_table", original)
        for name, mod in list(sys.modules.items()):
            if name.startswith("spotify_data_pipeline_spark") and getattr(mod, "load_table", None) is original:
                mod.load_table = wrapped

    def tag(self, label: str) -> None:
        """Tag the Spark jobs this thread starts next (traced run only)."""
        if self.trace:
            self.spark.sparkContext.setLocalProperty(tracing.TAG_PROPERTY, label)

    def cpu(self) -> dict[str, float]:
        """CPU seconds used so far by the process tree, per role, plus
        ``jit``: the JVM's accumulated JIT compilation time, and
        ``sampler``: the CPU the memory sampler spent reading ``/proc``."""
        out = proctree.cpu_seconds(os.getpid())
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        out["jit"] = mx.getTotalCompilationTime() / 1000.0
        out["sampler"] = self.sampler.cpu_s if self.sampler is not None else 0.0
        return out

    def add_pass_cpu(self, res: Result, cpu0: dict, cpu1: dict, check_cpu: float = 0.0) -> None:
        """Record one pass's CPU figures. ``cpu_s`` is everything the
        program used, JIT compilation included (``jit_s`` repeats that
        part on its own); the benchmark's result checking and memory
        sampling are taken out."""
        own = cpu1["sampler"] - cpu0["sampler"] + check_cpu
        res.cpu_s.append(cpu1["total"] - cpu0["total"] - own)
        res.jit_s.append(cpu1["jit"] - cpu0["jit"])
        res.py_cpu_s.append(cpu1["py_worker"] - cpu0["py_worker"])


def _oracle_module(root: str):
    """``tests/oracle_check`` of the checkout: the project's DuckDB
    oracle runner and its result comparison."""
    import importlib.util

    path = os.path.join(root, "tests", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Frame:
    """Adapter so ``oracle_check.compare`` can take an already collected frame."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


# ---------------------------------------------------------------------------
# Query workload: llm_batch
# ---------------------------------------------------------------------------


class QueryRunner:
    """Builds, runs and checks declared queries for one run."""

    def __init__(self, bench: Bench, root: str, names, sf: float) -> None:
        self.bench = bench
        self.names = list(names)
        self.reference: dict[str, str] = {}
        with bench.excluded():  # inputs and the DuckDB result of every oracle-bearing query
            self.sf_dir = datagen.write_tables(os.path.join(bench.work, "data"), sf)
            self.oracle_mod = _oracle_module(root)
            self.oracle = {
                name: self.oracle_mod.run_oracle(bench.registry[name].oracle, self.sf_dir)
                for name in self.names if bench.registry[name].oracle
            }

    def execute(self, name: str, request: str):
        """Build and run one query; return (frame, latency_s). The latency
        runs from calling ``q.fn`` until the last row reaches the client."""
        bench = self.bench
        q = bench.registry[name]
        t0 = time.perf_counter()
        with bench.span("request", request):
            with bench.span("plans.build"):
                df = q.fn(bench.spark, self.sf_dir)
            if bench.trace:
                with bench.span("plans.plan"):
                    df._jdf.queryExecution().executedPlan()
            with bench.span("exec.action"):
                pdf = df.toPandas()
        return pdf, time.perf_counter() - t0

    def warm_check(self, name: str, pdf) -> str | None:
        """Compare a warm-up result with the oracle and keep its hash as
        the reference for every later run of the query. Returns an error
        text, or None when the result is right."""
        with self.bench.excluded():
            if name in self.oracle:
                errs = self.oracle_mod.compare(_Frame(pdf), self.oracle[name])
                if errs:
                    return f"{name}: " + "; ".join(errs)
            self.reference[name] = stats.result_hash(pdf)
        return None

    def check(self, name: str, pdf) -> bool:
        with self.bench.excluded():
            return stats.result_hash(pdf) == self.reference.get(name)


def _run_one(runner: QueryRunner, name: str, request: str, tag: str):
    """Run a query, returning (frame or None, latency, error text)."""
    runner.bench.tag(tag)
    try:
        pdf, latency = runner.execute(name, request)
        return pdf, latency, None
    except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
        return None, 0.0, f"{name}: {type(exc).__name__}: {exc}"


def _warm_up(bench: Bench, runner: QueryRunner, res: Result) -> None:
    """Run every query once, in sequence as the measured passes do.
    The round loads classes, fills Spark's code caches and feeds the
    JIT. Each result is compared with the oracle as it arrives, in time
    left out of the set-up time, and its hash becomes the reference for
    the measured runs of the query.

    The JVM compiles Spark's planning and execution code over many runs
    of the queries, so the JIT is still busy in the measured passes: in
    one 60 s run it used 18, 14, 11, 8, 8 and 6 CPU-seconds in the first
    six. A round spread over one thread per core took less time but left
    the JIT a step further back (24 s in the first pass), and a second
    round cost 12 s of set-up that a run cannot afford."""
    for name in bench.rng.permutation(runner.names):
        name = str(name)
        pdf, _, err = _run_one(runner, name, f"w|{name}", f"warmup|{name}")
        err = err or runner.warm_check(name, pdf)
        if err:
            res.warmup_failures.append(err)
    res.warmup_ops = len(runner.names)


def _another_pass(bench: Bench, start: float, pass_start: float) -> bool:
    """Whether to start another pass: yes while the next pass, if it
    takes as long as the last one, ends closer to the deadline than the
    measurement would end without it."""
    now = time.monotonic()
    return now + 0.5 * (now - pass_start) < start + bench.seconds


def run_batch(bench: Bench, root: str, names, sf: float) -> Result:
    """One client runs the workload's queries in sequence, pass after
    pass, in an order drawn from the seed for each pass."""
    res = Result()
    bench.start_session()
    bench.load_registry()
    runner = QueryRunner(bench, root, names, sf)
    _warm_up(bench, runner, res)

    start = bench.start_measuring()
    p = 0
    while True:
        pass_start = time.monotonic()
        order = [str(n) for n in bench.rng.permutation(runner.names)]
        cpu0, check_cpu, wall = bench.cpu(), 0.0, 0.0
        for name in order:
            pdf, latency, err = _run_one(runner, name, f"p{p}|{name}", f"p{p}|{name}")
            c0 = time.thread_time()
            ok = err is None and runner.check(name, pdf)
            check_cpu += time.thread_time() - c0
            if err:
                res.notes.setdefault("errors", []).append(err)
            res.ops.append(Op(name, latency, ok))
            wall += latency
        cpu1 = bench.cpu()
        res.pass_s.append(wall)
        bench.add_pass_cpu(res, cpu0, cpu1, check_cpu=check_cpu)
        p += 1
        if not _another_pass(bench, start, pass_start):
            break
    res.notes["passes"] = p
    res.notes["sf_dir_mb"] = _dir_mb(runner.sf_dir)
    return res


# ---------------------------------------------------------------------------
# etl_daily
# ---------------------------------------------------------------------------


def _row_text(row) -> str:
    """A gold row as text: every value as Spark casts it to a string,
    None as NUL, joined by the unit separator."""
    return "\x1f".join("\x00" if v is None else str(v) for v in row)


def _etl_expected(expected: dict[str, list]) -> dict[str, tuple[int, int]]:
    """Row count and summed CRC-32 of the whole rows of each entity."""
    return {
        entity: (len(rows), sum(zlib.crc32(_row_text(r).encode()) for r in rows))
        for entity, rows in expected.items()
    }


def _etl_check(spark, gold: str, run_date: str, expected) -> list[str]:
    """Compare each gold entity of ``run_date`` with the catalog: row
    count, distinct key count, and an order-insensitive checksum over
    every column of every row."""
    from pyspark.sql import functions as F

    errs = []
    for entity, keys in ETL_KEYS.items():
        df = spark.read.parquet(f"{gold}/{entity}/run_date={run_date}")
        row_text = F.concat_ws("\x1f", *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in datagen.GOLD_COLUMNS[entity]
        ])
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.concat_ws("\x1f", *keys)).alias("d"),
            F.sum(F.crc32(row_text.cast("binary"))).alias("h"),
        ).collect()[0]
        n_exp, h_exp = expected[entity]
        if (row["n"], row["d"], int(row["h"] or 0)) != (n_exp, n_exp, h_exp):
            errs.append(f"{entity}@{run_date}: rows={row['n']} distinct keys={row['d']} "
                        f"checksum={row['h']} expected rows={n_exp} checksum={h_exp}")
    return errs


def _zone_files(root: str, run_date: str) -> tuple[int, int]:
    """Data files and bytes written under ``root`` for ``run_date``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        if run_date not in dirpath:
            continue
        for n in names:
            if n.startswith(("part-",)):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run_etl(bench: Bench, root: str) -> Result:
    """The reference pipeline end to end: ``pipeline.etl.run_daily`` on a
    seeded synthetic catalog with the daily sample equal to the pool, so
    every pass does identical work; each pass writes a new run date."""
    from spotify_data_pipeline_spark.pipeline import etl

    res = Result()
    with bench.excluded():
        client, artist_ids, rows = datagen.make_catalog(bench.seed, ETL_ARTISTS)
        expected = _etl_expected(rows)
    bench.start_session()
    bench.load_registry()
    zones = {z: os.path.join(bench.work, "zones", z) for z in ("bronze", "silver", "gold")}
    cfg = etl.PipelineConfig(**zones, daily_sample=len(artist_ids))
    id_pool = bench.spark.createDataFrame([(a,) for a in artist_ids], "artist_id string")

    current = {"label": ""}
    for stage in ETL_STAGES:  # run_daily looks its stages up at call time
        fn = getattr(etl, stage)

        def staged(*args, _fn=fn, _stage=stage, **kwargs):
            bench.tag(f"{current['label']}|{_stage}")
            with bench.span(f"etl.{_stage}"):
                return _fn(*args, **kwargs)

        setattr(etl, stage, staged)

    def daily(run_date: str, label: str) -> tuple[float, str | None]:
        """One daily run; returns its latency and an error text or None."""
        current["label"] = label
        t0 = time.perf_counter()
        try:
            with bench.span("request", f"{label}|etl"):
                etl.run_daily(bench.spark, client, id_pool, run_date, cfg)
        except Exception as exc:  # noqa: BLE001 - a failed run is counted, not fatal
            return time.perf_counter() - t0, f"{run_date}: {type(exc).__name__}: {exc}"
        return time.perf_counter() - t0, None

    def check(run_date: str) -> str | None:
        with bench.excluded():
            bench.tag(f"check|{run_date}")
            errs = _etl_check(bench.spark, zones["gold"], run_date, expected)
        return "; ".join(errs) or None

    base = np.datetime64("2024-01-01") + int(bench.rng.integers(0, 365))
    run_dates = (str(base + i).replace("-", "") for i in range(10_000))
    for _ in range(ETL_WARMUP_DAYS):
        run_date = next(run_dates)
        _, err = daily(run_date, "warmup")
        err = err or check(run_date)
        if err:
            res.warmup_failures.append(err)
    res.warmup_ops = ETL_WARMUP_DAYS

    start = bench.start_measuring()
    p = 0
    written = {}
    while True:
        pass_start = time.monotonic()
        run_date = next(run_dates)
        cpu0 = bench.cpu()
        latency, err = daily(run_date, f"p{p}")
        cpu1 = bench.cpu()
        err = err or check(run_date)
        res.ops.append(Op("run_daily", latency, err is None))
        if err:
            res.notes.setdefault("errors", []).append(err)
        res.pass_s.append(latency)
        bench.add_pass_cpu(res, cpu0, cpu1)
        written = {z: _zone_files(path, run_date) for z, path in zones.items()}
        p += 1
        if not _another_pass(bench, start, pass_start):
            break
    res.notes.update(passes=p, artists=ETL_ARTISTS, rows_per_day={k: len(v) for k, v in rows.items()})
    gold_bytes = written["gold"][1] or 1
    for zone, (files, size) in written.items():
        res.layers[f"etl.files_written.{zone}"] = files
        res.layers[f"etl.mb_written.{zone}"] = size / 2**20
    res.layers["etl.write_amp"] = sum(s for _, s in written.values()) / gold_bytes
    return res


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total / 2**20

