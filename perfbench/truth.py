"""Independent expected results, by numpy brute force over the generated
inputs. Nothing here imports the program.

Point-in-polygon uses the same boundary-inclusive covers() semantics as
the program (even-odd ray cast OR on-edge), and distances use the same
formulas in the same operand order. Points within ``EPS_DEG`` of a
polygon edge (or ``EPS_M`` of a radius) are treated as undecided: either
answer is accepted there, so last-ulp differences between the JVM and
numpy cannot fail a run.
"""

from __future__ import annotations

import re

import numpy as np

EPS_DEG = 1e-9
EPS_M = 1e-3
KNN_PRECISION = 7  # geohash precision of the pruned 9-cell KNN
EARTH_RADIUS_M = 6371008.8

_PAIR = re.compile(r"([-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)\s+"
                   r"([-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)")


def ring(wkt: str) -> np.ndarray:
    pts = np.array([(float(a), float(b)) for a, b in _PAIR.findall(wkt)])
    return pts[:-1] if np.array_equal(pts[0], pts[-1]) else pts


def covers(wkt: str, xs: np.ndarray, ys: np.ndarray):
    """(covered, undecided) boolean masks for a single-ring polygon."""
    rg = ring(wkt)
    inside = np.zeros(xs.shape, bool)
    near = np.zeros(xs.shape, bool)
    for (ax, ay), (bx, by) in zip(rg, np.roll(rg, -1, axis=0)):
        straddles = (ay > ys) != (by > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = ax + (ys - ay) * (bx - ax) / (by - ay)
        inside ^= straddles & (xs < x_at)
        # distance to the segment, to mark boundary-adjacent points
        dx, dy = bx - ax, by - ay
        t = np.clip(((xs - ax) * dx + (ys - ay) * dy) / (dx * dx + dy * dy),
                    0.0, 1.0)
        near |= np.hypot(xs - (ax + t * dx), ys - (ay + t * dy)) <= EPS_DEG
    return inside | near, near


def check_within(ids: set[int], wkt: str, lon, lat) -> bool:
    cov, und = covers(wkt, lon, lat)
    sure = set(np.flatnonzero(cov & ~und).tolist())
    maybe = set(np.flatnonzero(und).tolist())
    return sure <= ids <= (sure | maybe)


def haversine(lon, lat, olon: float, olat: float):
    phi1 = np.radians(olat)
    phi2 = np.radians(lat)
    dphi = np.radians(lat - olat)
    dlmb = np.radians(lon - olon)
    a = (np.sin(dphi / 2) * np.sin(dphi / 2)
         + np.cos(phi1) * np.cos(phi2) * np.sin(dlmb / 2) * np.sin(dlmb / 2))
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def check_radius(ids: set[int], olon, olat, radius_m, lon, lat) -> bool:
    d = haversine(lon, lat, olon, olat)
    sure = set(np.flatnonzero(d < radius_m - EPS_M).tolist())
    maybe = set(np.flatnonzero(np.abs(d - radius_m) <= EPS_M).tolist())
    return sure <= ids <= (sure | maybe)


def knn_order(olon: float, olat: float, lon, lat, candidates=None):
    """Point indices by (planar degree distance, id)."""
    dx = lon - olon
    dy = lat - olat
    d = np.sqrt(dx * dx + dy * dy)
    idx = np.arange(len(lon)) if candidates is None else candidates
    return idx[np.lexsort((idx, d[idx]))], d


def check_knn(got: list[int], olon, olat, k, lon, lat, candidates=None) -> bool:
    order, _ = knn_order(olon, olat, lon, lat, candidates)
    return got == order[:k].tolist()


def cell_bins(lon, lat, precision: int):
    """Geohash cell of every point as (lon bin, lat bin): a precision-p
    geohash carries ceil(5p/2) longitude and floor(5p/2) latitude bits."""
    nlon, nlat = (5 * precision + 1) // 2, (5 * precision) // 2
    bx = np.floor((lon + 180.0) / 360.0 * 2.0 ** nlon).astype(np.int64)
    by = np.floor((lat + 90.0) / 180.0 * 2.0 ** nlat).astype(np.int64)
    return bx, by


def knn9_candidates(olon, olat, lon, lat):
    """Points in the origin's geohash cell or one of its 8 neighbours."""
    bx, by = cell_bins(lon, lat, KNN_PRECISION)
    ox, oy = cell_bins(np.array([olon]), np.array([olat]), KNN_PRECISION)
    return np.flatnonzero((np.abs(bx - ox[0]) <= 1) & (np.abs(by - oy[0]) <= 1))


def top_x_ids(x: int, lon, lat, zip_code) -> set[int]:
    """Per geohash-6 cell, the x rows with the smallest zip (ties by id)."""
    bx, by = cell_bins(lon, lat, 6)
    idx = np.arange(len(lon))
    order = np.lexsort((idx, zip_code, by, bx))
    cell = bx[order] * (1 << 20) + by[order]
    start = np.r_[True, cell[1:] != cell[:-1]]
    first = np.maximum.accumulate(np.where(start, np.arange(len(cell)), 0))
    rank = np.arange(len(cell)) - first
    return set(order[rank < x].tolist())


def cosine_topk(V: np.ndarray, qids: list[int], k: int) -> dict[int, list[int]]:
    """Exact cosine top-k per query vector, excluding the query itself,
    ties broken by id."""
    X = V.astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    out = {}
    idx = np.arange(len(X))
    for q in qids:
        s = Xn @ Xn[q]
        s[q] = -np.inf
        top = np.lexsort((idx, -s))[:k]
        out[q] = top.tolist()
    return out


def planted_pairs(groups: list[list[int]]) -> list[tuple[int, int]]:
    return [(g[i], g[j]) for g in groups
            for i in range(len(g)) for j in range(i + 1, len(g))]
