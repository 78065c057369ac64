"""Brute-force answers with the reference's ``Exhaustive.cc`` semantics.

Closed intervals everywhere; kNN is tie-inclusive on the point↔MBR
distance (every entry at the k-th distance is returned); self-join pairs
come in both orders with id1 ≠ id2 and both boxes in the window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class Boxes:
    """Column arrays of a box set, updated in place by the index's writes."""

    def __init__(self, df: pd.DataFrame):
        self.id = df["id"].to_numpy(np.int64)
        self.xmin = df["xmin"].to_numpy(np.float64)
        self.ymin = df["ymin"].to_numpy(np.float64)
        self.xmax = df["xmax"].to_numpy(np.float64)
        self.ymax = df["ymax"].to_numpy(np.float64)

    def __len__(self) -> int:
        return len(self.id)

    def insert(self, df: pd.DataFrame) -> None:
        new = Boxes(df)
        for c in ("id", "xmin", "ymin", "xmax", "ymax"):
            setattr(self, c, np.concatenate([getattr(self, c), getattr(new, c)]))

    def delete(self, ids: np.ndarray) -> None:
        keep = ~np.isin(self.id, ids)
        for c in ("id", "xmin", "ymin", "xmax", "ymax"):
            setattr(self, c, getattr(self, c)[keep])

    def _intersecting(self, w) -> np.ndarray:
        qx0, qy0, qx1, qy1 = w
        return (
            ~((self.xmin > qx1) | (self.xmax < qx0))
            & ~((self.ymin > qy1) | (self.ymax < qy0))
        )

    def intersects(self, w) -> np.ndarray:
        return np.sort(self.id[self._intersecting(w)])

    def contains(self, w) -> np.ndarray:
        """Entries inside the window (the window contains them)."""
        qx0, qy0, qx1, qy1 = w
        m = (
            (qx0 <= self.xmin) & (self.xmax <= qx1)
            & (qy0 <= self.ymin) & (self.ymax <= qy1)
        )
        return np.sort(self.id[m])

    def dist2(self, px: float, py: float) -> np.ndarray:
        dx = np.maximum(np.maximum(self.xmin - px, px - self.xmax), 0.0)
        dy = np.maximum(np.maximum(self.ymin - py, py - self.ymax), 0.0)
        return dx * dx + dy * dy

    def nearest(self, px: float, py: float, k: int) -> np.ndarray:
        d2 = self.dist2(px, py)
        if len(d2) <= k:
            return np.sort(self.id)
        kth = np.partition(d2, k - 1)[k - 1]
        return np.sort(self.id[d2 <= kth])

    def self_join(self, w) -> np.ndarray:
        """Sorted pair codes (see :func:`pair_codes`)."""
        m = self._intersecting(w)
        ids = self.id[m]
        x0, y0, x1, y1 = self.xmin[m], self.ymin[m], self.xmax[m], self.ymax[m]
        hit = (
            ~((x0[:, None] > x1[None, :]) | (x1[:, None] < x0[None, :]))
            & ~((y0[:, None] > y1[None, :]) | (y1[:, None] < y0[None, :]))
        )
        np.fill_diagonal(hit, False)  # ids are unique: diagonal is id1 == id2
        i, j = np.nonzero(hit)
        return np.sort(pair_codes(ids[i], ids[j]))


def pair_codes(id1: np.ndarray, id2: np.ndarray) -> np.ndarray:
    """One int64 per (id1, id2) pair; ids are below 2^31."""
    return (np.asarray(id1, np.int64) << 31) | np.asarray(id2, np.int64)


def points_in_boxes(
    px: np.ndarray, py: np.ndarray, polys: pd.DataFrame
) -> np.ndarray:
    """Per point, the number of polygon MBRs that contain it (closed)."""
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    hits = np.zeros(len(px), np.int64)
    for x0, y0, x1, y1 in polys[["pxmin", "pymin", "pxmax", "pymax"]].to_numpy():
        lo, hi = np.searchsorted(sx, x0, "left"), np.searchsorted(sx, x1, "right")
        inside = (sy[lo:hi] >= y0) & (sy[lo:hi] <= y1)
        hits[order[lo:hi][inside]] += 1
    return hits


def same(got, want) -> bool:
    """Exact multiset equality of two id (or pair-code) collections."""
    return np.array_equal(np.sort(np.asarray(got, np.int64)), want)
