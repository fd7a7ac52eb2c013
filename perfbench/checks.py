"""Output checks. Every function returns a list of problems (empty = the
output is correct). The expected values come from closed forms or from
brute-force numpy over the same seeded inputs, never from the program.
"""

from __future__ import annotations

import zlib

import numpy as np

# WKB MultiPoint: 9-byte header, then one 21-byte Point per member
MULTIPOINT_HEADER, POINT_BYTES = 9, 21


def check_equal(what: str, got, want) -> list:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


def check_region_k(n_blocks: int, n_assigned: int, want_blocks: int, want_assigned: int) -> list:
    return check_equal("blocks", n_blocks, want_blocks) + check_equal("assigned buildings", n_assigned, want_assigned)


def check_stage_rows(got: dict, want: dict) -> list:
    out = []
    for stage, n in want.items():
        out += check_equal(f"{stage} rows", got.get(stage), n)
    return out


def check_resume(before: dict, after: dict) -> list:
    """The resume call must leave every stage's rows and files untouched."""
    out = []
    for key in sorted(set(before) | set(after)):
        out += check_equal(f"{key} after resume", after.get(key), before.get(key))
    return out


def crc_sum(keys) -> int:
    """Order-free checksum of string keys; equals Spark's sum(crc32(key))."""
    return int(sum(zlib.crc32(k.encode()) for k in keys))


# --- brute-force references ----------------------------------------------------

def points_in_ring(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of many points against one closed ring."""
    inside = np.zeros(len(x), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        crosses = (ay > y) != (by > y)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = ax + (y - ay) * (bx - ax) / (by - ay)
        inside ^= crosses & (x < xi)
    return inside


def brute_pip(ids: np.ndarray, x: np.ndarray, y: np.ndarray, rings: list) -> set:
    """Every (point id, polygon index) pair with the point inside the polygon."""
    pairs = set()
    for j, ring in enumerate(rings):
        for i in np.flatnonzero(points_in_ring(x, y, ring)):
            pairs.add((int(ids[i]), j))
    return pairs


def _dist(bx, by, x, y):
    # the program's own formula (knn.py), so a pair at exactly the radius
    # rounds the same way on both sides
    return np.sqrt((x - bx) ** 2 + (y - by) ** 2)


def brute_knn(px, py, bid, bx, by, k: int) -> list:
    """Per probe, the k nearest build ids ordered by (distance, id)."""
    out = []
    for x, y in zip(px, py):
        d = _dist(bx, by, x, y)
        order = np.lexsort((bid, d))[:k]
        out.append([int(b) for b in bid[order]])
    return out


def brute_radius(pid, px, py, bid, bx, by, r: float) -> set:
    pairs = set()
    for p, x, y in zip(pid, px, py):
        for b in bid[_dist(bx, by, x, y) <= r]:
            pairs.add((int(p), int(b)))
    return pairs


def check_pairs(what: str, got: set, want: set) -> list:
    if got == want:
        return []
    return [f"{what}: {len(got - want)} unexpected and {len(want - got)} missing pairs"]


def check_knn(got: dict, want: dict) -> list:
    bad = [p for p in want if got.get(p) != want[p]]
    return [f"knn: {len(bad)} of {len(want)} probes differ (first {bad[0]})"] if bad else []


# --- image tiles -----------------------------------------------------------------

def tile_centres(idx: np.ndarray, n_tiles_side: int, x0: float, y0: float, tw: float, th: float):
    ci, cj = np.divmod(idx % (n_tiles_side * n_tiles_side), n_tiles_side)
    return x0 + (ci + 0.5) * tw, y0 + (cj + 0.5) * th


def expected_tile_blocks(cx, cy, origin: tuple, m: int, size: float) -> np.ndarray:
    """Block index (row-major over an m×m square grid) holding each centre."""
    i = np.floor((cx - origin[0]) / size).astype(np.int64)
    j = np.floor((cy - origin[1]) / size).astype(np.int64)
    return i * m + j


def edge_clearance(cx, cy, origin: tuple, size: float) -> float:
    """Smallest distance from a tile centre to a block edge, as a share of a
    block: the closed form holds only while this is clearly above 0."""
    fx = ((cx - origin[0]) / size) % 1.0
    fy = ((cy - origin[1]) / size) % 1.0
    return float(min(np.minimum(fx, 1 - fx).min(), np.minimum(fy, 1 - fy).min()))


def pixel_coverage(tile: tuple, block: tuple, w: int, h: int) -> float:
    """Share of a w×h tile's pixel centres inside an axis-aligned block,
    with the pixel-centre convention of ``raster.rasterize_mask``."""
    txmin, tymin, txmax, tymax = tile
    bxmin, bymin, bxmax, bymax = block
    xs = txmin + (np.arange(w) + 0.5) / w * (txmax - txmin)
    ys = tymax - (np.arange(h) + 0.5) / h * (tymax - tymin)
    nx = np.count_nonzero((xs >= bxmin) & (xs <= bxmax))
    ny = np.count_nonzero((ys >= bymin) & (ys <= bymax))
    return nx * ny / (w * h)


def check_close(what: str, got: float, want: float, rel: float = 1e-9) -> list:
    if got is not None and abs(got - want) <= rel * max(1.0, abs(want)):
        return []
    return [f"{what}: got {got}, want {want}"]
