"""Zip archive source (reference A2), parity path + distributed path.

Reference behavior (``/root/reference/src/main.rs:153-170``): open the
archive, iterate entries, write each to the output dir, and *skip*
entries whose names are unsafe (zip-slip guard via ``enclosed_name()``).

Two implementations behind one interface:

- :func:`extract_zip` — driver-local ``zipfile`` extraction, faithful to
  the reference (which also extracts to local disk before reading).
- :func:`read_zipped_csvs` — the 100 TB path: zip is a non-splittable
  container, so distribution happens at archive granularity —
  ``spark.read.format("binaryFile")`` lists the archives, and a
  ``mapInPandas`` stage decompresses + parses each archive's entries on
  executors (one task per archive, Arrow-batched output). No driver
  bottleneck, no shared filesystem needed.
"""

from __future__ import annotations

import csv
import io
import logging
import os
import shutil
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import tune

logger = logging.getLogger(__name__)


def _is_safe_name(name: str) -> bool:
    """Zip-slip guard: mirror of the reference's ``enclosed_name()`` check."""
    if os.path.isabs(name):
        return False
    parts = name.replace("\\", "/").split("/")
    return ".." not in parts


def is_csv_entry(name: str) -> bool:
    """The one rule for "this zip entry is a CSV": a safe name with a
    ``.csv`` suffix in any case. A directory entry's name ends in ``/``,
    so the suffix test also rules directories out."""
    return _is_safe_name(name) and name.lower().endswith(".csv")


def parse_csv_header(line: str) -> list[str]:
    """Column names of one CSV header line, unquoted the way pandas and
    Spark read them (``"Date","NO2"`` gives ``Date``, ``NO2``)."""
    return [c.strip() for c in next(csv.reader([line], skipinitialspace=True), [])]


def extract_zip(zip_path: str, output_dir: str) -> list[str]:
    """Extract all safe entries of ``zip_path`` into ``output_dir``.

    Returns the list of extracted file paths. Unsafe entry names are
    skipped (logged), matching main.rs:158-163's ``continue``.

    Each entry is written to a ``.part-<pid>-<uuid>`` sibling and
    published with one ``os.replace`` — the warm path (A7)
    short-circuits on the extracted CSV's EXISTENCE, so a crash
    mid-extract must never leave a truncated file under the final name
    for every later run to trust (same atomic-commit rule as
    ``fetch_s3`` and the artifact store; the uuid keeps two THREADS of
    one process off each other's part file — ADVICE r6).
    """
    import uuid

    os.makedirs(output_dir, exist_ok=True)
    extracted: list[str] = []
    with zipfile.ZipFile(zip_path) as zf:
        for info in zf.infolist():
            if not _is_safe_name(info.filename):
                logger.warning("skipping unsafe zip entry: %r", info.filename)
                continue
            if info.is_dir():
                continue
            target = os.path.join(output_dir, info.filename)
            os.makedirs(os.path.dirname(target) or ".", exist_ok=True)
            part = f"{target}.part-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            try:
                with zf.open(info) as src, open(part, "wb") as dst:
                    shutil.copyfileobj(src, dst)  # bounded buffer, not the entry
                os.replace(part, target)  # publish only complete bytes
            except BaseException:
                try:
                    os.remove(part)
                except OSError:
                    pass
                raise
            extracted.append(target)
    logger.info("extracted %d entries from %s", len(extracted), zip_path)
    return extracted


def read_zipped_csvs(
    spark: SparkSession,
    zip_glob: str,
    schema: StructType,
    *,
    header: bool = True,
) -> DataFrame:
    """Distributed zip→CSV scan: one executor task per archive.

    ``binaryFile`` ships each archive's bytes to a task; pandas parses
    every safe CSV entry inside it and yields Arrow batches. The schema
    is explicit (never inferred — no double scan, stable types at any
    scale). Projection is pushed into the parser: when a header row is
    present, ``usecols`` (callable form — tolerant of schema columns
    absent from a given file, per the warn-missing/never-abort
    contract) skips tokenizing/boxing values outside the schema, so a
    k-of-n column read costs ~k, not n (measured: 8/19 columns ≈ -40%
    parse wall; SCALE.md §18). Headerless CSVs bind names
    positionally, so there is nothing to prune.
    """
    tune(spark)
    names = [f.name for f in schema.fields]
    name_set = set(names)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    for info in zf.infolist():
                        if not is_csv_entry(info.filename):
                            continue
                        with zf.open(info) as fh:
                            out = pd.read_csv(
                                fh,
                                header=0 if header else None,
                                names=None if header else names,
                                usecols=(
                                    (lambda c: c in name_set)
                                    if header
                                    else None
                                ),
                            )
                        # reindex, don't subset: a CSV missing a schema
                        # column yields nulls there (warn-missing/never-
                        # abort contract), and extra columns are dropped
                        # — the Arrow batch must match the schema exactly
                        yield out.reindex(columns=names)

    binaries = spark.read.format("binaryFile").load(zip_glob)
    return binaries.select("content").mapInPandas(parse, schema=schema)
