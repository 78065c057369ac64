"""Seeded inputs with the size laws of ``sources.testdata``.

Coordinates sit on the testdata lattice (k / 2^20), so every distance and
comparison the engine and the oracle make is exact in float64.  Rect sides
are below 1/16 (``testdata.RECTS_SQL``), polygon sides below 1/32
(``testdata.POLYS_SQL``); lower-left corners are uniform on the unit
square, the shape of the reference generator (``test/rtree/Generator.cc``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 1 << 20
RECT_SIDE = 65536  # lattice steps: sides < 1/16
POLY_SIDE = 32768  # sides < 1/32


def lattice(rng: np.random.Generator, n: int, hi: float = 1.0) -> np.ndarray:
    """``n`` uniform lattice coordinates in [0, hi)."""
    return rng.integers(0, int(hi * SCALE), n) / SCALE


def boxes(
    rng: np.random.Generator, n: int, side: int = RECT_SIDE, first_id: int = 0
) -> pd.DataFrame:
    """``n`` boxes (id, xmin, ymin, xmax, ymax) with sides < side / 2^20."""
    x0 = rng.integers(0, SCALE, n)
    y0 = rng.integers(0, SCALE, n)
    return pd.DataFrame({
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "xmin": x0 / SCALE,
        "ymin": y0 / SCALE,
        "xmax": (x0 + rng.integers(0, side, n)) / SCALE,
        "ymax": (y0 + rng.integers(0, side, n)) / SCALE,
    })


def polys(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Polygon(MBR) layer in the pipeline's column names."""
    return boxes(rng, n, side=POLY_SIDE).rename(columns={
        "id": "poly_id", "xmin": "pxmin", "ymin": "pymin",
        "xmax": "pxmax", "ymax": "pymax",
    })


def window(rng: np.random.Generator, side: float) -> tuple[float, ...]:
    """A ``side``-wide query window inside the unit square."""
    x, y = lattice(rng, 2, 1.0 - side)
    return (float(x), float(y), float(x) + side, float(y) + side)


def point(rng: np.random.Generator) -> tuple[float, float]:
    x, y = lattice(rng, 2)
    return float(x), float(y)


def write_parquet(df: pd.DataFrame, path: str) -> str:
    """Write ``df`` as a one-file parquet directory at ``path``."""
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(df), os.path.join(path, "part-0.parquet"))
    return path
