"""Self-tests of the benchmark.

Run from the repository root::

    python -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start a JVM per workload (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import inputs  # noqa: E402
import run as run_mod  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from data_ingestion_s3_to_parquet_spark.ingest import EXPECTED_COLUMNS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _bytes(paths):
    return [open(a.path, "rb").read() for a in paths]


def test_generator_same_seed_same_bytes(tmp_path):
    a = inputs.write_airquality_archives(str(tmp_path / "a"), 5, 3, 300)
    b = inputs.write_airquality_archives(str(tmp_path / "b"), 5, 3, 300)
    c = inputs.write_airquality_archives(str(tmp_path / "c"), 6, 3, 300)
    assert _bytes(a) == _bytes(b)
    assert [x.value_hash for x in a] == [x.value_hash for x in b]
    assert _bytes(a) != _bytes(c)
    for x in a:
        assert x.rows > 0 and x.csv_bytes > x.zip_bytes > 0


def test_generator_writes_reference_header_and_round_trips(tmp_path):
    import io
    import zipfile

    import pyarrow.csv as pacsv

    (arch,) = inputs.write_airquality_archives(str(tmp_path), 9, 1, 500)
    with zipfile.ZipFile(arch.path) as zf:
        text = zf.read("data.csv")
    header = text.split(b"\n", 1)[0].decode().split(",")
    assert tuple(header) == EXPECTED_COLUMNS
    assert "Total Percipitation" in header and "Vegitation (High)" in header
    # parsing the CSV text back gives the hash the generator recorded
    parsed = pacsv.read_csv(
        io.BytesIO(text),
        convert_options=pacsv.ConvertOptions(
            column_types={"Date": "string", "station_name": "string"}
        ),
    ).to_pandas()
    assert len(parsed) == arch.rows
    assert inputs.value_hash(parsed) == arch.value_hash


def test_lane_fixtures_are_the_seed_42_sf0_01_tables():
    import pyarrow.parquet as pq

    from data_ingestion_s3_to_parquet_spark.sources.catalog import TABLES

    files = sorted(os.listdir(workloads.FIXTURES))
    assert files == sorted(f"{t}.parquet" for t in TABLES)
    rows = {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(workloads.FIXTURES, f)).num_rows
        for f in files
    }
    # sf0.01: the fact tables at x10 the sf0.001 counts in FIXTURES.md
    assert rows["lineitem"] == 60_000 and rows["orders"] == 15_000
    assert rows["region"] == 5 and rows["nation"] == 25


def test_benchmark_json_names_and_units():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    names = [w["name"] for w in spec["workloads"]]
    assert tuple(names) == run_mod.WORKLOAD_NAMES == tuple(workloads.WORKLOADS)
    seen = set()
    for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]:
        assert NAME.match(m["name"]), m["name"]
        assert m["name"] not in seen
        seen.add(m["name"])
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_lane_pass_is_bench_lanes_plus_etl():
    bench = set(workloads.bench_lanes())
    assert workloads.ETL_LANE in workloads.LANES
    assert set(workloads.LANES) - {workloads.ETL_LANE} <= bench


def test_self_times_sum_to_root_duration():
    t = tracing.Tracer()
    t.spans = [
        tracing.Span("bench.op", 0.0, 10.0, None, [1, 2]),
        tracing.Span("ingest.a", 1.0, 4.0, 0, [3]),
        tracing.Span("sinks.w", 5.0, 9.0, 0, []),
        tracing.Span("sources.z", 2.0, 3.0, 1, []),
    ]
    t.attach_jobs([(5.5, 8.5), (9.2, 9.6)])
    self_s = t.self_times([0])
    assert self_s["sources"] == pytest.approx(1.0)
    assert self_s["ingest"] == pytest.approx(2.0)
    assert self_s["sinks"] == pytest.approx(1.0)
    assert self_s["spark"] == pytest.approx(3.4)
    assert sum(self_s.values()) == pytest.approx(10.0)


def test_peak_rss_sampler_sees_this_process_and_resets():
    import time

    with tracing.PeakRssSampler(interval=0.05) as rss:
        buf = bytearray(64 * 1024 * 1024)
        buf[::4096] = b"x" * len(buf[::4096])
        time.sleep(0.2)
        with_buf = rss.peak_mb
        del buf
        rss.reset()
        time.sleep(0.2)
    assert with_buf > 64
    assert 0 < rss.peak_mb < with_buf - 32
    assert not rss._thread.is_alive()


def _smoke(monkeypatch, tmp_path, workload: str, trace: bool) -> dict:
    """One small in-process run (a few thousand ingest rows)."""
    monkeypatch.setattr(workloads.IngestOneArchive, "rows", 3000)
    monkeypatch.setattr(workloads, "MANY_ARCHIVES", 3)
    monkeypatch.setattr(workloads, "MANY_ARCHIVE_ROWS", 500)
    work = str(tmp_path / "work")
    env = dict(os.environ)
    try:
        run_mod.isolate(work)
        return workloads.run(workload, 3, 0.1, trace, work)
    finally:
        os.environ.clear()
        os.environ.update(env)
        import tempfile

        tempfile.tempdir = None


@pytest.mark.parametrize(
    "workload,trace", [("ingest_one_archive", True), ("lanes_sf0.01", False)]
)
def test_smoke_run(monkeypatch, tmp_path, workload, trace):
    spec = _spec()
    res = _smoke(monkeypatch, tmp_path, workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    assert sorted(res["metrics"]) == sorted(want)
    for name, v in res["metrics"].items():
        assert isinstance(v["value"], float), name
    if trace:
        m = res["metrics"]
        self_sum = sum(m[f"{layer}.self_s"]["value"] for layer in workloads.LAYERS)
        assert self_sum == pytest.approx(m["trace.wall_s"]["value"], rel=0.1)
        assert m["spark.jobs"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())
