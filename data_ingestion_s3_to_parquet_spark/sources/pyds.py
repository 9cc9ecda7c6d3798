"""Custom Python DataSource (Spark 4 API): entry-partitioned zip-CSV.

Third lane for the reference's zip stage (A2, main.rs:153-170), after
the driver-local parity extractor and the ``binaryFile``+mapInPandas
archive-per-task path (sources/zipsource.py). The Spark 4
``pyspark.sql.datasource`` API turns the zip reader into a REAL data
source — ``spark.read.format("zipcsv").load(path)`` — with partition
planning the engine can see:

- ``partitions()`` runs on the driver and reads only each archive's
  central directory (the entry catalog at the end of the file — no
  decompression), emitting ONE InputPartition PER CSV ENTRY. That is
  strictly finer parallelism than archive-per-task: a single fat
  archive with 200 entries fans out to 200 tasks instead of 1.
- ``read(partition)`` runs on executors: open the archive, decompress
  just that entry, parse with pandas, and yield Arrow RecordBatches
  (the zero-copy hand-off the DataSource API supports natively).
- The zip-slip guard (unsafe entry names skipped, mirroring
  main.rs:158-163) applies at planning time, so unsafe entries never
  even become partitions.

Schema: all columns as strings, taken from the header of the first
entry (sorted order — deterministic). The reference trusts CSV
inference; here the contract is explicit string-first with downstream
casts, which is also the robust choice when entries disagree on
dialects. Entries whose header differs from the planned schema fail
loudly per-partition rather than silently misaligning columns.

Scale: at 100 TB the archive bytes live on an object store; each task
reads one member via a ranged fetch of that member's compressed span
(zipfile seeks only within the opened stream). Planning cost is one
central-directory read per archive — metadata, not data.
"""

from __future__ import annotations

import glob as _glob
import io
import os
import zipfile
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .zipsource import is_csv_entry, parse_csv_header


def _list_archives(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(dirp, f)
            for dirp, _, files in os.walk(path)
            for f in files
            if f.endswith(".zip")
        )
    return sorted(_glob.glob(path)) or [path]


def _csv_entries(archive: str) -> list[str]:
    with zipfile.ZipFile(archive) as zf:  # central directory only
        return sorted(n for n in zf.namelist() if is_csv_entry(n))


class ZipEntryPartition(InputPartition):
    def __init__(self, archive: str, entry: str) -> None:
        self.archive = archive
        self.entry = entry


class ZipCsvDataSource(DataSource):
    """``spark.read.format("zipcsv").load(path)`` — path is a .zip
    file, a glob, or a directory searched recursively for .zip."""

    @classmethod
    def name(cls) -> str:
        return "zipcsv"

    def schema(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("zipcsv requires a path")
        for archive in _list_archives(path):
            for entry in _csv_entries(archive):
                with zipfile.ZipFile(archive) as zf, zf.open(entry) as fh:
                    header = io.TextIOWrapper(fh, "utf-8").readline()
                cols = [c or f"_c{i}" for i, c in enumerate(parse_csv_header(header))]
                return ", ".join(f"`{c}` string" for c in cols)
        raise ValueError(f"zipcsv: no CSV entries found under {path!r}")

    def reader(self, schema) -> DataSourceReader:
        return _ZipCsvReader(self.options, schema)


class _ZipCsvReader(DataSourceReader):
    def __init__(self, options, schema) -> None:
        self._path = options.get("path")
        self._fields = [f.name for f in schema.fields]

    def partitions(self) -> list[InputPartition]:
        return [
            ZipEntryPartition(archive, entry)
            for archive in _list_archives(self._path)
            for entry in _csv_entries(archive)
        ]

    def read(self, partition: ZipEntryPartition) -> Iterator:
        import pandas as pd
        import pyarrow as pa

        with zipfile.ZipFile(partition.archive) as zf:
            raw = zf.read(partition.entry)
        pdf = pd.read_csv(io.BytesIO(raw), dtype=str, keep_default_na=False)
        got = [str(c) for c in pdf.columns]
        if got != self._fields:
            raise ValueError(
                f"{partition.archive}!{partition.entry}: header {got} "
                f"does not match planned schema {self._fields}"
            )
        yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)


def register_zipcsv(spark) -> None:
    """Idempotently register the zipcsv format on this session."""
    spark.dataSource.register(ZipCsvDataSource)
