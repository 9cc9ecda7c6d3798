"""The benchmark's workloads, their timed loop, output checks and metrics.

One client, closed loop: each operation starts after the previous one
returns, on ``local[nproc]``. A run is

1. input preparation (seeded; outside every metric),
2. set-up: cold session, package shipping, cold artifact builds and
   warm-up (``setup_s``),
3. the timed loop: whole passes over the workload's operations until
   ``seconds`` have elapsed,
4. output checks (outside the timed region).

With tracing on, step 3 runs as one untimed pass and then an untraced, a
traced and another untraced loop in the same session; the traced loop
feeds the per-layer metrics, the untraced ones the tracing overhead.
"""

from __future__ import annotations

import contextlib
import glob
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq
from pyspark.sql.types import ArrayType, MapType, StructType

from data_ingestion_s3_to_parquet_spark import artifacts as artifacts_mod
from data_ingestion_s3_to_parquet_spark import ingest as ingest_mod
from data_ingestion_s3_to_parquet_spark import session as session_mod
from data_ingestion_s3_to_parquet_spark.plans.registry import BENCH_ONLY, EXTRA, REGISTRY
from data_ingestion_s3_to_parquet_spark.sources import pyds as pyds_mod
from data_ingestion_s3_to_parquet_spark.sources import sinks as sinks_mod
from data_ingestion_s3_to_parquet_spark.sources import zipsource as zipsource_mod

import inputs
from tracing import (
    PeakRssSampler,
    Tracer,
    catalyst_phases,
    process_tree,
    read_event_log,
    spark_totals,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import oracle_check  # noqa: E402  (the DuckDB differential's normalisation)
from bench import materialize  # noqa: E402  (the headline suite's noop sink)

# Ingest sizes. One archive: per-row work (CSV parse, projection, parquet
# encode) dominates. Many small archives, scanned in the traced run only:
# the fixed cost of each call does.
ONE_ARCHIVE_ROWS = 400_000
MANY_ARCHIVES = 16
MANY_ARCHIVE_ROWS = 2_000

# The lane fixtures: the seed-42 sf0.01 tables, shipped with the benchmark.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")

# The lanes one pass runs. A full pass of the 42 bench lanes takes 70-100 s
# on 4 cores, more than a run can spend, so the pass covers each family
# once: relational shuffles, text, similarity (exact and LSH), a Python
# UDF, streaming, an iterative graph lane that reads an artifact, plus the
# parquet-sink lane.
LANES = (
    "join_inner",
    "agg_group",
    "window_analytic",
    "text_stats",
    "sim_topk",
    "sim_join_lsh",
    "udf_scalar",
    "stream_tumbling",
    "pagerank",
    "etl_scan_project_write",
)
ETL_LANE = "etl_scan_project_write"
# The parquet-sink lane runs this many times in a row per pass: it takes
# ~0.4 s, and rows_per_s rests on its median alone.
ETL_REPEATS = 5
ETL_COLUMNS = (
    "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_returnflag", "l_linestatus", "l_shipdate",
)

# The artifact namespaces the lanes build (pagerank's k-NN edge table).
ARTIFACT_NAMESPACES = ("knn_edges",)
LAYERS = ("bench", "session", "sources", "ingest", "sinks", "artifacts", "operators", "spark")


def bench_lanes() -> dict:
    return {n: q for n, q in {**REGISTRY, **EXTRA, **BENCH_ONLY}.items() if q.bench}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Op:
    name: str
    run: Callable[[], object]


@dataclass
class LoopResult:
    passes: list[float] = field(default_factory=list)
    per_op: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    window: tuple[float, float] = (0.0, 0.0)
    roots: list[int] = field(default_factory=list)


class Workload:
    name = ""
    # Cold set-ups per untraced run; ``setup_s`` is their median.
    setups = 1

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer: Tracer | None = None
        self.failed_checks: list[str] = []

    # input preparation, set-up, a pass, checks --------------------------
    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def bytes_ratio(self) -> float:
        raise NotImplementedError

    def op_rows(self, name: str) -> int:
        """Rows operation ``name`` commits to parquet (0 for the noop sink)."""
        raise NotImplementedError

    def comparisons(self) -> dict[str, float]:
        return {}

    # shared --------------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def fail(self, what: str) -> None:
        _log(f"check failed: {what}")
        self.failed_checks.append(what)

    def group(self, step: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(f"bench:{self.name}:{step}", desc)


# --- ingest ----------------------------------------------------------------


class IngestOneArchive(Workload):
    """The reference's own job at size: one archive, one large CSV."""

    name = "ingest_one_archive"
    rows = ONE_ARCHIVE_ROWS
    # A set-up here is mostly JVM start, which host load moves more than
    # the timed ingests; two per run halve the weight of a slow one (a
    # third would not fit the benchmark's time budget on a slow host).
    setups = 2

    def prepare(self) -> None:
        os.environ.pop("UNZIPPED_DATA_1", None)
        self.in_dir = os.path.join(self.work, "in")
        (self.archive,) = inputs.write_airquality_archives(self.in_dir, self.seed, 1, self.rows)
        self.reports: dict[str, list] = defaultdict(list)
        self.ingested: dict[str, inputs.Archive] = {}
        _log(
            f"{self.name}: {self.archive.rows} rows, {self.archive.csv_bytes} CSV bytes, "
            f"{self.archive.zip_bytes} zip bytes"
        )

    def _ingest(self, archive: inputs.Archive, tag: str) -> None:
        self.reports[tag].append(
            ingest_mod.run_pipeline(
                self.spark,
                destination=archive.path,
                unzip_dir=os.path.join(self.work, "unzip", tag),
                out_path=self._out(tag),
            )
        )
        self.ingested[tag] = archive

    def _out(self, tag: str) -> str:
        return os.path.join(self.work, "out", f"{tag}.parquet")

    def setup(self) -> None:
        # One untimed ingest of the archive, so the timed loop does not
        # start with the JVM's first CSV parse and parquet write.
        self.group("setup", "warm-up ingest")
        self._ingest(self.archive, "warm")

    def pass_ops(self) -> list[Op]:
        return [Op("archive", lambda: self._ingest(self.archive, "timed"))]

    def check(self) -> None:
        for tag, a in self.ingested.items():
            if not all(r.all_present for r in self.reports[tag]):
                self.fail(f"{tag}: VerifyReport.all_present is false")
            table = pq.read_table(self._out(tag))
            if tuple(table.column_names) != ingest_mod.SELECTED_COLUMNS:
                self.fail(f"{tag}: columns {table.column_names}")
            elif table.num_rows != a.rows:
                self.fail(f"{tag}: {table.num_rows} rows, expected {a.rows}")
            elif inputs.value_hash(table.to_pandas()) != a.value_hash:
                self.fail(f"{tag}: value hash differs from the generator's")

    def bytes_ratio(self) -> float:
        return _dir_bytes(self._out("timed")) / self.archive.csv_bytes

    def op_rows(self, name: str) -> int:
        return self.archive.rows

    def comparisons(self) -> dict[str, float]:
        """The three zip-CSV paths the package carries, on this archive and
        on many small ones: ``run_pipeline`` per archive (local extraction,
        parquet out, checked) and the two distributed scans
        (``read_zipped_csvs`` and the ``zipcsv`` data source, noop sink)."""
        many_dir = os.path.join(self.work, "many")
        many = inputs.write_airquality_archives(
            many_dir, self.seed + 1, MANY_ARCHIVES, MANY_ARCHIVE_ROWS
        )
        pyds_mod.register_zipcsv(self.spark)
        out = {}
        for shape, in_dir, archives in (
            ("one", self.in_dir, [self.archive]),
            ("many", many_dir, many),
        ):
            paths = {
                "run_pipeline": lambda: [
                    self._ingest(a, f"{shape}-{i}") for i, a in enumerate(archives)
                ],
                "read_zipped_csvs": lambda: materialize(
                    ingest_mod.project_selected(
                        zipsource_mod.read_zipped_csvs(
                            self.spark,
                            os.path.join(in_dir, "*.zip"),
                            ingest_mod.airquality_schema(),
                        )
                    )
                ),
                "zipcsv": lambda: materialize(
                    ingest_mod.project_selected(
                        self.spark.read.format("zipcsv").load(in_dir)
                    )
                ),
            }
            for path, scan in paths.items():
                self.group("compare", f"{shape}:{path}")
                t = time.perf_counter()
                scan()
                out[f"sources.{shape}.{path}_s"] = time.perf_counter() - t
        return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


# --- lanes -----------------------------------------------------------------


class LanesWorkload(Workload):
    name = "lanes_sf0.01"

    def prepare(self) -> None:
        # A fresh copy per run: artifact identity includes the tables'
        # mtimes, so every run builds its artifacts cold.
        self.sf_dir = os.path.join(self.work, "fixtures")
        shutil.copytree(FIXTURES, self.sf_dir)
        self.lineitem_rows = pq.read_metadata(f"{self.sf_dir}/lineitem.parquet").num_rows
        self.queries = bench_lanes()
        self.last_df: dict = {}
        self.etl_out = os.path.join(self.work, "out", "etl.parquet")
        self.rng = random.Random(self.seed)

    def _etl_frame(self):
        return self.spark.read.parquet(f"{self.sf_dir}/lineitem.parquet").select(*ETL_COLUMNS)

    def setup(self) -> None:
        # One untimed pass in the fixed order: it builds the artifacts cold
        # (pagerank's knn_edges), starts the Python workers and runs each
        # plan once, so the timed passes only read artifacts and none pays
        # a plan's first run.
        self.group("setup", "warm-up pass")
        for name in LANES:
            self._run_lane(name)

    def pass_ops(self) -> list[Op]:
        order = list(LANES)
        self.rng.shuffle(order)
        return [
            Op(name, lambda name=name: self._run_lane(name))
            for name in order
            for _ in range(ETL_REPEATS if name == ETL_LANE else 1)
        ]

    def _run_lane(self, name: str) -> None:
        spark = self.spark
        spark.catalog.clearCache()
        with self.span(f"operators.{name}.build"):
            df = self._etl_frame() if name == ETL_LANE else self.queries[name].fn(spark, self.sf_dir)
        self.last_df[name] = df
        with self.span(f"operators.{name}.run"):
            if name == ETL_LANE:
                sinks_mod.write_parquet(df, self.etl_out)
            else:
                materialize(df)
                if self.tracer:
                    self.tracer.phases(df)

    def check(self) -> None:
        self.group("check", "oracle")
        for name in LANES:
            df = self.last_df.get(name)
            if df is None:
                continue
            try:
                if name == ETL_LANE:
                    self._check_etl()
                else:
                    self._check_lane(name, df)
            except Exception as e:  # a crashing check is a failed check
                self.fail(f"{name}: {type(e).__name__}: {e}")

    def _check_lane(self, name: str, df) -> None:
        bad = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        cols = df.columns
        if bad or not cols or len(set(cols)) != len(cols):
            self.fail(f"{name}: output schema {df.schema.simpleString()}")
            return
        pdf = df.toPandas()
        rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        oracle = self.queries[name].oracle
        if oracle is None:
            if not rows:
                self.fail(f"{name}: empty output")
            return
        dcols, drows = oracle_check.run_duckdb(oracle, self.sf_dir)
        if sorted(cols) != sorted(dcols):
            self.fail(f"{name}: columns {sorted(cols)} vs oracle {sorted(dcols)}")
        elif oracle_check.to_multiset(cols, rows) != oracle_check.to_multiset(dcols, drows):
            self.fail(f"{name}: rows differ from the DuckDB oracle")

    def _check_etl(self) -> None:
        table = pq.read_table(self.etl_out)
        if tuple(table.column_names) != ETL_COLUMNS:
            self.fail(f"{ETL_LANE}: columns {table.column_names}")
            return
        cols = ", ".join(ETL_COLUMNS)
        con = duckdb.connect()
        try:
            diff = con.execute(
                f"""
                WITH o AS (SELECT {cols} FROM read_parquet('{self.etl_out}/*.parquet')),
                     i AS (SELECT {cols} FROM read_parquet('{self.sf_dir}/lineitem.parquet'))
                SELECT (SELECT count(*) FROM o),
                       (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM i)),
                       (SELECT count(*) FROM (SELECT * FROM i EXCEPT ALL SELECT * FROM o))
                """
            ).fetchone()
        finally:
            con.close()
        if diff != (self.lineitem_rows, 0, 0):
            self.fail(f"{ETL_LANE}: (rows, extra, missing) = {diff}")

    def bytes_ratio(self) -> float:
        return _dir_bytes(self.etl_out) / os.path.getsize(f"{self.sf_dir}/lineitem.parquet")

    def op_rows(self, name: str) -> int:
        return self.lineitem_rows if name == ETL_LANE else 0


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (IngestOneArchive, LanesWorkload)
}


# --- tracing hooks -----------------------------------------------------------


class BenchTracer(Tracer):
    """:class:`Tracer` plus the hooks on the package's public functions."""

    def __init__(self) -> None:
        super().__init__()
        self.phase_ms: dict[str, float] = defaultdict(float)
        self.artifact_calls: list[tuple[str, bool, float]] = []
        self.planned: list = []

    def phases(self, df) -> None:
        """Queue ``df`` for :meth:`collect_phases` once its operation ends."""
        self.planned.append(df)

    def collect_phases(self) -> None:
        for df in self.planned:
            for k, v in catalyst_phases(df).items():
                self.phase_ms[k] += v
        self.planned.clear()

    def install(self) -> None:
        wrap, count = self.wrap, self.counts

        def entries(result, args, kwargs):
            count["sources.entries"] += len(result)

        def written(result, args, kwargs):
            df = args[0]
            path = args[1] if len(args) > 1 else kwargs["path"]
            files = [
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                if f.endswith(".parquet")
            ]
            count["sinks.files"] += len(files)
            count["sinks.bytes_mb"] += sum(os.path.getsize(f) for f in files) / 2**20
            self.phases(df)

        hooks = [
            (session_mod.tune, "session.tune", None),
            (session_mod._ship_package, "session.ship", None),
            (zipsource_mod.extract_zip, "sources.extract_zip", entries),
            (ingest_mod.run_pipeline, "ingest.run_pipeline", None),
            (ingest_mod.ingest_csv, "ingest.ingest_csv", None),
            (ingest_mod.csv_header_columns, "ingest.header", None),
            (ingest_mod.verify_columns, "ingest.verify", None),
            (ingest_mod.read_csv, "ingest.read_csv", None),
            (ingest_mod.project_selected, "ingest.project_selected", None),
            (sinks_mod.write_parquet, "sinks.write_parquet", written),
            (artifacts_mod._signature, "artifacts.verify", None),
        ]
        for fn, name, after in hooks:
            self.patch(fn, wrap(name, fn, after))
        self.patch(artifacts_mod.persisted_frame, self._persisted_frame_hook())

    def _persisted_frame_hook(self):
        original = artifacts_mod.persisted_frame

        def persisted_frame(spark, namespace, key, build, cols):
            built = []

            def traced_build():
                built.append(True)
                return build()

            t = time.time()
            with self.span("artifacts.persisted_frame"):
                df = original(spark, namespace, key, traced_build, cols)
            self.artifact_calls.append((namespace, bool(built), time.time() - t))
            return df

        return persisted_frame

    def reset_counts(self) -> None:
        self.counts.clear()
        self.phase_ms.clear()
        self.artifact_calls.clear()
        self.planned.clear()


# --- the run -----------------------------------------------------------------


def timed_loop(wl: Workload, seconds: float) -> LoopResult:
    res = LoopResult()
    t_start = time.perf_counter()
    wall_start = time.time()
    n = 0
    while True:
        t_pass = 0.0
        for op in wl.pass_ops():
            wl.group("timed", op.name)
            idx = len(wl.tracer.spans) if wl.tracer else None
            t = time.perf_counter()
            try:
                with wl.span(f"bench.{op.name}"):
                    op.run()
            except Exception:
                res.failed += 1
                _log(f"operation {op.name} failed:\n{traceback.format_exc()}")
            dt = time.perf_counter() - t
            _log(f"  {op.name} {dt:.3f} s")
            res.attempted += 1
            res.per_op[op.name].append(dt)
            t_pass += dt
            if idx is not None:
                res.roots.append(idx)
                wl.tracer.collect_phases()
        res.passes.append(t_pass)
        _log(f"{wl.name}: pass {n} {t_pass:.3f} s")
        n += 1
        # whole passes only, and none that would end past ``seconds``
        if time.perf_counter() - t_start + statistics.mean(res.passes) > seconds:
            break
    res.window = (wall_start, time.time())
    return res


def spark_confs(work: str, trace: bool) -> dict[str, str]:
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The whole driver heap from the start: a heap the collector grows
        # on its own schedule put peak_rss_mb anywhere between 1.1 and
        # 3.5 GB on the same ingest; a fixed one reads within 2%.
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return confs


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and every Python worker it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def set_up(wl: Workload, work: str, trace: bool) -> float:
    """One cold set-up: a new JVM and session, package shipping, the
    workload's artifact builds (with no artifact cached) and its warm-up.
    Returns its seconds."""
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "spark_graft_*")):
        shutil.rmtree(d)
    t0 = time.perf_counter()
    with wl.span("session.get_spark"):
        wl.spark = session_mod.get_spark("perfbench", extra_confs=spark_confs(work, trace))
    wl.spark.sparkContext.setLogLevel("ERROR")
    _log(f"{wl.name}: session {time.perf_counter() - t0:.2f} s")
    wl.setup()
    return time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    wl = WORKLOADS[workload](seed, work)
    _log(f"{workload}: preparing inputs (seed {seed})")
    wl.prepare()
    tracer = BenchTracer() if trace else None
    comparisons: dict[str, float] = {}
    extra: list[LoopResult] = []  # trace mode: the warm and untraced loops
    # The traced run reports no setup_s, so it sets up once.
    setups: list[float] = []
    with PeakRssSampler() as rss:
        if tracer:
            tracer.install()
            wl.tracer = tracer
        try:
            for _ in range(1 if trace else wl.setups):
                if wl.spark is not None:
                    stop_spark(wl.spark)
                    wl.spark = None
                # peak_rss_mb covers the session that runs the timed loop,
                # from its set-up on, whatever the number of set-ups
                rss.reset()
                setups.append(set_up(wl, work, trace))
                _log(f"{workload}: set-up {setups[-1]:.2f} s")
            if tracer:
                setup_totals = tracer.totals(
                    [i for i, s in enumerate(tracer.spans) if s.parent is None]
                )
                setup_artifacts = list(tracer.artifact_calls)
                tracer.unpatch()
                wl.tracer = None
                # One untimed pass, so no loop below is the first to run
                # each plan; then untraced, traced, untraced, so a drift
                # across the loops cancels out of the overhead.
                extra.append(timed_loop(wl, 0))
                extra.append(timed_loop(wl, seconds))
                tracer.reset_counts()
                tracer.install()
                wl.tracer = tracer
            loop = timed_loop(wl, seconds)
            if tracer:
                tracer.unpatch()
                wl.tracer = None
                extra.append(timed_loop(wl, seconds))
                comparisons = wl.comparisons()
            _log(f"{workload}: {len(loop.passes)} passes, checking outputs")
            wl.check()
        finally:
            if wl.spark is not None:
                stop_spark(wl.spark)
    failed = loop.failed + len(wl.failed_checks) + sum(r.failed for r in extra)
    attempted = loop.attempted + sum(r.attempted for r in extra)

    if not trace:
        medians = {n: statistics.median(ts) for n, ts in loop.per_op.items()}
        committing = [n for n in medians if wl.op_rows(n)]
        metrics = {
            "wall_s": (statistics.median(loop.passes), "s"),
            "setup_s": (statistics.median(setups), "s"),
            "rows_per_s": (
                sum(wl.op_rows(n) for n in committing)
                / sum(medians[n] for n in committing),
                "rows/s",
            ),
            "bytes_out_per_in_byte": (wl.bytes_ratio(), "ratio"),
            "geomean_lane_s": (statistics.geometric_mean(medians.values()), "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        }
    else:
        metrics = per_layer_metrics(
            wl, tracer, loop, extra[1:], setup_totals, setup_artifacts, comparisons, work
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer_metrics(wl, tracer, loop, untraced, setup_totals, setup_artifacts, comparisons, work):
    """``untraced``: the untraced loops run before and after ``loop``."""
    passes = len(loop.passes)
    m: dict[str, tuple[float, str]] = {}
    sparkrun = read_event_log(os.path.join(work, "eventlog"))
    tracer.attach_jobs([(j["start"], j["end"]) for j in sparkrun.jobs])
    totals = tracer.totals(loop.roots)
    per_pass = lambda v: v / passes  # noqa: E731

    m["session.get_spark_s"] = (setup_totals.get("session.get_spark", 0.0), "s")
    m["session.ship_s"] = (setup_totals.get("session.ship", 0.0), "s")
    m["session.tune_s"] = (per_pass(totals.get("session.tune", 0.0)), "s")

    built = defaultdict(float)
    for ns, was_built, secs in setup_artifacts:
        if was_built:
            built[ns] += secs
    m["artifacts.build_s"] = (sum(built.values()), "s")
    for ns in ARTIFACT_NAMESPACES:
        m[f"artifacts.build_s.{ns}"] = (built.get(ns, 0.0), "s")
    m["artifacts.verify_s"] = (per_pass(totals.get("artifacts.verify", 0.0)), "s")
    calls = tracer.artifact_calls
    m["artifacts.hit_ratio"] = (
        sum(not b for _, b, _ in calls) / len(calls) if calls else 1.0,
        "ratio",
    )

    m["sources.extract_zip_s"] = (per_pass(totals.get("sources.extract_zip", 0.0)), "s")
    m["sources.entries"] = (per_pass(tracer.counts.get("sources.entries", 0.0)), "count")
    for shape in ("one", "many"):
        for path in ("run_pipeline", "read_zipped_csvs", "zipcsv"):
            k = f"sources.{shape}.{path}_s"
            m[k] = (comparisons.get(k, 0.0), "s")
    m["ingest.header_s"] = (per_pass(totals.get("ingest.header", 0.0)), "s")
    m["ingest.verify_s"] = (per_pass(totals.get("ingest.verify", 0.0)), "s")
    m["ingest.plan_s"] = (
        per_pass(totals.get("ingest.read_csv", 0.0) + totals.get("ingest.project_selected", 0.0)),
        "s",
    )
    m["sinks.write_parquet_s"] = (per_pass(totals.get("sinks.write_parquet", 0.0)), "s")
    m["sinks.files"] = (per_pass(tracer.counts.get("sinks.files", 0.0)), "count")
    m["sinks.bytes_mb"] = (per_pass(tracer.counts.get("sinks.bytes_mb", 0.0)), "MB")

    build = {n: totals.get(f"operators.{n}.build", 0.0) for n in LANES}
    runs = {n: totals.get(f"operators.{n}.run", 0.0) for n in LANES}
    m["operators.build_s"] = (per_pass(sum(build.values())), "s")
    m["operators.run_s"] = (per_pass(sum(runs.values())), "s")
    for n in LANES:
        m[f"lanes.{n}.build_s"] = (per_pass(build[n]), "s")
        m[f"lanes.{n}.run_s"] = (per_pass(runs[n]), "s")

    for k in ("analysis", "optimization", "planning"):
        m[f"spark.{k}_ms"] = (per_pass(tracer.phase_ms.get(k, 0.0)), "ms")
    units = {"task_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB"}
    for k, v in spark_totals(sparkrun, loop.window).items():
        m[f"spark.{k}"] = (per_pass(v), units.get(k, "count"))

    self_s = tracer.self_times(loop.roots)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (per_pass(self_s.get(layer, 0.0)), "s")
    traced_wall = per_pass(sum(loop.passes))
    untraced_wall = statistics.mean(statistics.mean(u.passes) for u in untraced)
    m["trace.wall_s"] = (traced_wall, "s")
    m["trace.untraced_wall_s"] = (untraced_wall, "s")
    m["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    return m
