"""Seeded input generation for the engine benchmark.

Every row set the engine sees is generated here with numpy from the
run's seed and written to parquet under the run's work directory; the
harness hands the engine ``spark.read.parquet(path)`` and keeps the same
file for the DuckDB replay.

Values are multiples of 1/8 (``v1``) and 1/4 (``v2``) with small
magnitudes, so every sum the workloads compute is exact in a double and
Spark and DuckDB agree to the last digit whatever their summation order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
HOUR_US = 3600 * US
DAY_US = 24 * HOUR_US
# 2024-01-01T00:00:00Z, the start of every workload's simulated timeline
T0_US = 1_704_067_200 * US

SCHEMA = pa.schema(
    [
        ("time", pa.timestamp("us", tz="UTC")),
        ("device_id", pa.int32()),
        ("v1", pa.float64()),
        ("v2", pa.float64()),
    ]
)


def metrics_rows(
    rng: np.random.Generator,
    start_us: int,
    end_us: int,
    devices,
    cadence_s: int,
    offset_s: int = 0,
) -> pa.Table:
    """``metrics`` rows for ``devices`` every ``cadence_s`` seconds in
    ``[start_us, end_us)``, shifted by ``offset_s`` (late re-deliveries
    use an offset so they never share a (time, device) key with the
    on-time rows). Shaped like FIXTURES F2: ``v1`` varies slowly per
    device, ``v2`` is spiky with about 1% NULLs."""
    devices = np.asarray(devices, dtype=np.int32)
    times = np.arange(start_us + offset_s * US, end_us, cadence_s * US, dtype=np.int64)
    nt, nd = len(times), len(devices)
    t = np.repeat(times, nd)
    d = np.tile(devices, nt)
    phase = (d.astype(np.int64) * 7919) % 86400
    day_wave = np.sin(2 * np.pi * (((t // US) + phase) % 86400) / 86400.0)
    v1 = 100.0 + (d % 50) * 8.0 + np.round(day_wave * 80.0) / 8.0
    v1 = v1 + rng.integers(-4, 5, size=len(t)) / 8.0
    v2 = rng.integers(0, 400, size=len(t)) / 4.0
    v2 = np.where(rng.random(len(t)) < 0.02, v2 + 1000.0, v2)
    v2_null = rng.random(len(t)) < 0.01
    return pa.table(
        [
            pa.array(t, type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            pa.array(d, type=pa.int32()),
            pa.array(v1, type=pa.float64()),
            pa.array(v2, type=pa.float64(), mask=v2_null),
        ],
        schema=SCHEMA,
    )


def revalue(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    """Same keys, fresh values: the payload of an upsert."""
    n = table.num_rows
    v1 = 500.0 + rng.integers(-800, 800, size=n) / 8.0
    v2 = rng.integers(0, 400, size=n) / 4.0
    return table.set_column(2, "v1", pa.array(v1)).set_column(
        3, "v2", pa.array(v2, mask=rng.random(n) < 0.01)
    )


class InputStore:
    """Writes generated tables to numbered parquet files in one directory
    and remembers them, so the DuckDB replay reads the very bytes the
    engine read."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._n = 0

    def put(self, table: pa.Table, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.root, f"{self._n:05d}_{tag}.parquet")
        pq.write_table(table, path)
        return path
