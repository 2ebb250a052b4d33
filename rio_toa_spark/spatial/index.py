"""Broadcastable rectangle index for exact point-in-footprint refinement.

Scene/tile footprints in this engine are axis-aligned WGS84 boxes (the
reference reduces MTL corner products to [min lng, min lat, max lng,
max lat] at rio_toa/toa_utils.py:111-118), so the exact refine step of
the spatial join is rectangle containment. This index plays the role a
broadcast STRtree would play for general polygons: built once on the
driver from the (small) footprint side, broadcast to executors, and
queried vectorized per Arrow batch inside a ``map_arrow`` kernel.

The structure is a sort-tile-recursive-flavored packing without the
tree: rectangles sorted by west edge, with a running max of east edges
(a monotone "fence") so a query point's candidate slice is found by two
binary searches, then refined with one vectorized mask. For B boxes and
P points per batch this is O(P log B + hits) — the same asymptotics an
STRtree query loop would give, but with numpy batch semantics instead
of per-point Python.
"""

from __future__ import annotations

import numpy as np


class RectIndex:
    """Immutable, pickle-friendly (hence broadcast-friendly) index over
    N rectangles with integer payload ids."""

    def __init__(self, west, south, east, north, ids):
        order = np.argsort(np.asarray(west, dtype=np.float64), kind="stable")
        self.west = np.asarray(west, dtype=np.float64)[order]
        self.south = np.asarray(south, dtype=np.float64)[order]
        self.east = np.asarray(east, dtype=np.float64)[order]
        self.north = np.asarray(north, dtype=np.float64)[order]
        self.ids = np.asarray(ids)[order]
        # fence[i] = max(east[0..i]) — while fence[i] >= qx, some box at
        # or before i may still contain the query x.
        self.fence = np.maximum.accumulate(self.east) if len(self.east) else self.east

    def __len__(self) -> int:
        return len(self.ids)

    def query_points(self, lon: np.ndarray, lat: np.ndarray):
        """Return (point_idx, box_id) pairs for every containment hit
        (edges inclusive). Vectorized over the candidate slice per
        point; suitable for batches of thousands of points against
        thousands of boxes."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        n_boxes = len(self.ids)
        if n_boxes == 0 or len(lon) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=self.ids.dtype)

        # Upper bound of candidate slice: first box with west > qx.
        hi = np.searchsorted(self.west, lon, side="right")
        out_pts: list[np.ndarray] = []
        out_ids: list[np.ndarray] = []
        for i in range(len(lon)):
            end = hi[i]
            if end == 0:
                continue
            # Walk the fence back: below `start`, every east < qx.
            start = np.searchsorted(self.fence[:end], lon[i], side="left")
            sl = slice(start, end)
            mask = (
                (self.east[sl] >= lon[i])
                & (self.south[sl] <= lat[i])
                & (self.north[sl] >= lat[i])
            )
            if mask.any():
                matched = np.nonzero(mask)[0] + start
                out_pts.append(np.full(len(matched), i, dtype=np.int64))
                out_ids.append(self.ids[matched])
        if not out_pts:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=self.ids.dtype)
        return np.concatenate(out_pts), np.concatenate(out_ids)
