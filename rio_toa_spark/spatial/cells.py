"""Hierarchical S2-style cell grid over EPSG:4326.

A level-L cell grid divides [-180, 180] x [-90, 90] into 2^L x 2^L
rectangles; a cell id is the Morton (Z-order) interleave of the (x, y)
grid indices, tagged with its level. This gives the three properties
the spatial-join layer needs (the role S2/H3 plays in the north rule):

* point -> cell is a pure-arithmetic, numpy-vectorizable map, also
  expressible in Spark SQL (so Catalyst sees the join key);
* a bbox -> covering-cell-set is a small rectangle of grid indices
  (built in SQL by ``spatial_join._explode_cover``);
* neighbor rings for kNN candidate expansion are index offsets.

Everything here is driver/executor-side numpy; the DataFrame-level
join operators live in rio_toa_spark/operators/spatial_join.py.

No external geo library is used (none is available in the container);
the grid is equal-angle rather than S2's equal-area quadrilateralized
sphere, which only affects cell-occupancy balance, not correctness —
skew is handled explicitly by salting in the join operators.
"""

from __future__ import annotations

import numpy as np

DEFAULT_LEVEL = 6  # 64x64 grid -> 5.6 x 2.8 degree cells

_WORLD = (-180.0, -90.0, 180.0, 90.0)


def _part1by1(n: np.ndarray) -> np.ndarray:
    """Spread the low 16 bits of n so a bit lands in every other slot."""
    n = n.astype(np.uint64) & np.uint64(0xFFFF)
    n = (n | (n << np.uint64(8))) & np.uint64(0x00FF00FF)
    n = (n | (n << np.uint64(4))) & np.uint64(0x0F0F0F0F)
    n = (n | (n << np.uint64(2))) & np.uint64(0x33333333)
    n = (n | (n << np.uint64(1))) & np.uint64(0x55555555)
    return n


def _compact1by1(n: np.ndarray) -> np.ndarray:
    n = n.astype(np.uint64) & np.uint64(0x55555555)
    n = (n | (n >> np.uint64(1))) & np.uint64(0x33333333)
    n = (n | (n >> np.uint64(2))) & np.uint64(0x0F0F0F0F)
    n = (n | (n >> np.uint64(4))) & np.uint64(0x00FF00FF)
    n = (n | (n >> np.uint64(8))) & np.uint64(0x0000FFFF)
    return n


def morton_encode(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (_part1by1(x) | (_part1by1(y) << np.uint64(1))).astype(np.int64)


def morton_decode(code: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    code = np.asarray(code, dtype=np.uint64)
    return (
        _compact1by1(code).astype(np.int64),
        _compact1by1(code >> np.uint64(1)).astype(np.int64),
    )


def grid_xy(lon, lat, level: int = DEFAULT_LEVEL):
    """Integer grid indices of points; clamped to the valid range so
    lon=180 / lat=90 fall in the last cell."""
    n = 1 << level
    west, south, east, north = _WORLD
    x = np.floor((np.asarray(lon, dtype=np.float64) - west) / (east - west) * n).astype(np.int64)
    y = np.floor((np.asarray(lat, dtype=np.float64) - south) / (north - south) * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def cell_of_points(lon, lat, level: int = DEFAULT_LEVEL) -> np.ndarray:
    """Vectorized point -> level-L cell id (Morton code)."""
    x, y = grid_xy(lon, lat, level)
    return morton_encode(x, y)


def cell_parent(cell, levels: int = 1) -> np.ndarray:
    """Ancestor cell id ``levels`` up the hierarchy. Morton interleave
    commutes with per-axis shifts, so the level-(L-k) parent of a
    level-L cell is simply ``cell >> 2k`` — the same property S2 uses
    for prefix-range containment queries."""
    return np.asarray(cell, dtype=np.int64) >> np.int64(2 * levels)


def cell_size_degrees(level: int = DEFAULT_LEVEL) -> tuple[float, float]:
    n = 1 << level
    return (360.0 / n, 180.0 / n)
