"""Benchmark command: one workload, one run, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload ingest_one_archive --seed 1 --seconds 10 --trace 0

Workloads: ``ingest_one_archive``, ``lanes_sf0.01`` (``METRICS.md`` says
why each exists). ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
prints the per-layer metrics of a traced loop, with untraced loops around
it in the same session for the tracing overhead. Progress goes to stderr;
the last stdout line is the result::

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

Everything the run writes stays under ``.perfbench_work/`` in the
repository root and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_ingestion_s3_to_parquet_spark"
WORKLOAD_NAMES = ("ingest_one_archive", "lanes_sf0.01")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (Spark's launcher and the Spark driver): temp files here, no
    # hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # local[nproc]: one task thread per core the process may use
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a 2 GB driver heap holds either workload (``workloads.spark_confs``
    # also makes it the initial heap)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    if os.path.isdir(base):  # left behind by runs that were killed
        for entry in os.listdir(base):
            pid = entry.rsplit("-", 1)[-1]
            if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
                shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path[:0] = [ROOT, HERE]
    os.chdir(ROOT)
    try:
        import workloads

        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(base):
            os.rmdir(base)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
