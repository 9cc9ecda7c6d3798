"""Seeded ingest inputs.

:func:`write_airquality_archives` writes zip archives of the reference's
19-column air-quality CSV (``ingest.EXPECTED_COLUMNS``, spellings included;
value ranges and null share as ``FIXTURES.md`` section 1 proposes) and
returns, per archive, its row count, CSV bytes, zip bytes and the
order-insensitive value hash of the 8 projected columns. The same seed
gives the same bytes.

The lane workload does not generate its input: it reads the seed-42 sf0.01
tables shipped under ``fixtures/sf0.01``.
"""

from __future__ import annotations

import io
import os
import zipfile
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv

from data_ingestion_s3_to_parquet_spark.ingest import EXPECTED_COLUMNS, SELECTED_COLUMNS

# zip entries carry a fixed timestamp so the archive bytes depend on the seed only
_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


@dataclass(frozen=True)
class Archive:
    path: str
    rows: int
    csv_bytes: int
    zip_bytes: int
    value_hash: int


def value_hash(df: pd.DataFrame) -> int:
    """Order-insensitive hash of a frame holding ``SELECTED_COLUMNS``:
    the wrapping uint64 sum of per-row hashes (duplicates count)."""
    frame = df[list(SELECTED_COLUMNS)].reset_index(drop=True)
    for c in ("Date", "station_name"):
        frame[c] = frame[c].astype(object)
    rows = pd.util.hash_pandas_object(frame, index=False).to_numpy(np.uint64)
    return int(np.add.reduce(rows, dtype=np.uint64))


_DATES = (np.datetime64("2023-01-01") + np.arange(365)).astype(str).astype(object)
_STATIONS = np.array([f"station_{i:03d}" for i in range(50)], dtype=object)
_CODES = np.array([f"GB{i:04d}A" for i in range(50)], dtype=object)


def airquality_table(rng: np.random.Generator, rows: int, first_id: int) -> pa.Table:
    """``rows`` air-quality records with the reference's 19 columns."""
    dates = _DATES[rng.integers(0, len(_DATES), rows)]
    station = rng.integers(0, len(_STATIONS), rows)
    no2 = np.round(rng.gamma(2.0, 12.0, rows), 1)
    no2[rng.random(rows) < 0.02] = np.nan  # the sensor gaps real feeds carry
    cols = {
        "Date": dates,
        "NO2": no2,
        "O3": np.round(rng.uniform(5, 120, rows), 1),
        "PM10": np.round(rng.gamma(2.0, 9.0, rows), 1),
        "PM2.5": np.round(rng.gamma(2.0, 4.5, rows), 1),
        "Latitude": np.round(50.0 + station * 0.16 + rng.normal(0, 1e-3, rows), 4),
        "Longitude": np.round(-6.0 + station * 0.15 + rng.normal(0, 1e-3, rows), 4),
        "station_name": _STATIONS[station],
        "Wind-Speed (U)": np.round(rng.normal(1.5, 2.0, rows), 1),
        "Wind-Speed (V)": np.round(rng.normal(0.0, 2.0, rows), 1),
        "Dewpoint Temp": np.round(rng.uniform(265, 295, rows), 1),
        "Soil Temp": np.round(rng.uniform(270, 300, rows), 1),
        "Total Percipitation": np.round(rng.exponential(0.001, rows), 4),
        "Vegitation (High)": np.round(rng.uniform(0, 1, rows), 2),
        "Vegitation (Low)": np.round(rng.uniform(0, 1, rows), 2),
        "Temp": np.round(rng.uniform(265, 305, rows), 1),
        "Relative Humidity": np.round(rng.uniform(20, 100, rows), 1),
        "code": _CODES[station],
        "id": np.arange(first_id, first_id + rows, dtype=np.int64),
    }
    assert tuple(cols) == EXPECTED_COLUMNS
    return pa.table({k: pa.array(v, from_pandas=True) for k, v in cols.items()})


def csv_bytes(table: pa.Table) -> bytes:
    """CSV text with a bare header line, empty fields for nulls and the
    shortest round-trip spelling of every double."""
    sink = io.BytesIO()
    header = ",".join(table.column_names) + "\n"
    sink.write(header.encode())
    pacsv.write_csv(
        table,
        sink,
        pacsv.WriteOptions(include_header=False, quoting_style="none"),
    )
    return sink.getvalue()


def write_airquality_archives(
    out_dir: str, seed: int, archives: int, rows_per_archive: int
) -> list[Archive]:
    """Write ``archives`` zips (one CSV entry each) under ``out_dir``.

    Archive sizes vary by up to +-25% around ``rows_per_archive`` when there
    are several, so a many-archive scan is not one size repeated.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    if archives == 1:
        sizes = [rows_per_archive]
    else:
        sizes = rng.integers(
            int(rows_per_archive * 0.75), int(rows_per_archive * 1.25) + 1, archives
        ).tolist()
    out: list[Archive] = []
    first_id = 0
    for i, rows in enumerate(sizes):
        table = airquality_table(rng, rows, first_id)
        first_id += rows
        text = csv_bytes(table)
        path = os.path.join(out_dir, f"archive_{i:03d}.zip")
        info = zipfile.ZipInfo("data.csv", date_time=_ZIP_EPOCH)
        info.compress_type = zipfile.ZIP_DEFLATED
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(info, text, compresslevel=1)
        selected = table.select(list(SELECTED_COLUMNS)).to_pandas()
        out.append(
            Archive(path, rows, len(text), os.path.getsize(path), value_hash(selected))
        )
    return out
