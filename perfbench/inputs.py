"""Seeded inputs for every workload.

The fixture generators in ``prclz_spark.fixtures`` are seedless in effect
(``make_lines``/``make_buildings`` accept a seed but never draw from it), so
the seed dependence is added here: every world is translated by a seeded
offset and every building gets a seeded sub-cell jitter; point sets, polygon
grids and image ids are drawn from the seed directly. The same seed gives
byte-identical inputs; the program only ever sees the generated tables.

Everything in this module is pure pandas/numpy; ``to_spark`` is the one
place a table becomes a DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from prclz_spark import fixtures as FX
from prclz_spark import geom as G

CELL = FX.CELL
# building jitter per axis, as a share of a cell: the fixture keeps every
# building centroid at least 0.014 cells off the streets (the cell diagonal
# at 24 buildings per cell is the closest), so this never moves a centroid
# into another block
JITTER = 0.005


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _shift(data, d: np.ndarray):
    if isinstance(data, np.ndarray):
        return data + d
    return [_shift(p, d) for p in data]


def shift_wkb(bufs, dxy: np.ndarray) -> list:
    """Translate every WKB geometry by its own (dx, dy) row of ``dxy``."""
    geoms = G.wkb_loads_batch(bufs)
    return [G.wkb_dumps(G.Geom(g.kind, _shift(g.data, d))) for g, d in zip(geoms, dxy)]


@dataclass
class World:
    """A seeded street-grid world: lines, admin regions and buildings."""

    seed: int
    nx: int
    ny: int
    per_cell: int
    gx: int
    gy: int
    origin: tuple
    lines: pd.DataFrame
    gadm: pd.DataFrame
    buildings: pd.DataFrame

    @property
    def bbox(self) -> tuple:
        x0, y0 = self.origin
        return x0, y0, x0 + self.nx * CELL, y0 + self.ny * CELL

    @property
    def n_cells(self) -> int:
        return self.nx * self.ny

    def expected_blocks(self) -> int:
        """Closed-form block count: every cell is one block, and each cell
        the fixture crosses with a diagonal street adds one more."""
        return self.n_cells + diagonal_cells(self.nx, self.ny)


def diagonal_cells(nx: int, ny: int) -> int:
    # fixtures.make_lines draws a diagonal in every cell with index % 7 == 3
    return sum(1 for idx in range(nx * ny) if idx % 7 == 3)


def region_world(seed: int, nx: int, ny: int, per_cell: int, gx: int, gy: int) -> World:
    rng = _rng(seed, 1)
    off = rng.uniform(-2.0, 2.0, size=2)
    lines = FX.make_lines(nx, ny)
    gadm = FX.make_gadm(nx, ny, gx, gy)
    bldgs = FX.make_buildings(nx, ny, per_cell)
    lines["geometry"] = shift_wkb(lines["geometry"], np.broadcast_to(off, (len(lines), 2)))
    gadm["geometry"] = shift_wkb(gadm["geometry"], np.broadcast_to(off, (len(gadm), 2)))
    jit = rng.uniform(-JITTER * CELL, JITTER * CELL, size=(len(bldgs), 2))
    bldgs["geometry"] = shift_wkb(bldgs["geometry"], off + jit)
    x0, y0, _, _ = FX.grid_params(nx, ny)
    return World(seed, nx, ny, per_cell, gx, gy, (x0 + off[0], y0 + off[1]), lines, gadm, bldgs)


# --- point_joins -------------------------------------------------------------

# pip_join has closed semantics with a tolerance: a point within about 1e-10
# degrees of an edge two polygons share matches both. Points are kept this far
# from every edge, so each lies in exactly one polygon and the checks need no
# tolerance of their own.
EDGE_MARGIN = 1e-8


@dataclass
class PolyGrid:
    """An n×n grid of square blocks over a seeded box, with a seeded share
    of the squares split along a diagonal into two triangles."""

    origin: tuple
    n: int
    size: float
    table: pd.DataFrame  # poly_id, geometry (WKB)
    rings: list  # closed (k, 2) rings, row-aligned with ``table``
    split: np.ndarray  # (n, n) bool: square split by its diagonal

    @property
    def bbox(self) -> tuple:
        x0, y0 = self.origin
        return x0, y0, x0 + self.n * self.size, y0 + self.n * self.size

    def edge_distance(self, x: np.ndarray, y: np.ndarray) -> np.ndarray:
        """Distance from each point to the nearest polygon edge."""
        u, v = (x - self.origin[0]) / self.size, (y - self.origin[1]) / self.size
        fu, fv = u % 1.0, v % 1.0
        d = np.minimum(np.minimum(fu, 1 - fu), np.minimum(fv, 1 - fv))
        i = np.clip(np.floor(u).astype(np.int64), 0, self.n - 1)
        j = np.clip(np.floor(v).astype(np.int64), 0, self.n - 1)
        diag = np.abs(fu - fv) / np.sqrt(2.0)
        return np.where(self.split[i, j], np.minimum(d, diag), d) * self.size


def poly_grid(seed: int, n: int, size: float, split_frac: float = 0.15) -> PolyGrid:
    rng = _rng(seed, 2)
    x0, y0 = rng.uniform(-50.0, 50.0, size=2)
    split = rng.random((n, n)) < split_frac
    rings = []
    for i in range(n):
        for j in range(n):
            a, b = x0 + i * size, y0 + j * size
            c, d = a + size, b + size
            if split[i, j]:
                rings.append(np.array([(a, b), (c, b), (c, d), (a, b)]))
                rings.append(np.array([(a, b), (c, d), (a, d), (a, b)]))
            else:
                rings.append(np.array([(a, b), (c, b), (c, d), (a, d), (a, b)]))
    table = pd.DataFrame({
        "poly_id": np.arange(len(rings), dtype=np.int64),
        "geometry": [G.wkb_dumps(G.polygon(r)) for r in rings],
    })
    return PolyGrid((x0, y0), n, size, table, rings, split)


def _points(rng, boxes: list, which: np.ndarray, clear_of: PolyGrid | None) -> pd.DataFrame:
    """Point k uniform in boxes[which[k]]; points closer than EDGE_MARGIN to
    an edge of ``clear_of`` are drawn again."""
    n = len(which)
    x, y = np.empty(n), np.empty(n)
    redo = np.ones(n, dtype=bool)
    while redo.any():
        for b, (x0, y0, x1, y1) in enumerate(boxes):
            m = redo & (which == b)
            x[m] = rng.uniform(x0, x1, int(m.sum()))
            y[m] = rng.uniform(y0, y1, int(m.sum()))
        if clear_of is None:
            break
        redo = clear_of.edge_distance(x, y) < EDGE_MARGIN
    return pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "x": x, "y": y})


def uniform_points(seed: int, stream: int, n: int, bbox: tuple,
                   clear_of: PolyGrid | None = None) -> pd.DataFrame:
    return _points(_rng(seed, stream), [bbox], np.zeros(n, dtype=np.int64), clear_of)


def skewed_points(seed: int, stream: int, n: int, bbox: tuple, hot_frac: float,
                  hot_box: tuple, clear_of: PolyGrid | None = None) -> pd.DataFrame:
    """``hot_frac`` of the points in ``hot_box`` (one index cell), the rest
    uniform over ``bbox``."""
    rng = _rng(seed, stream)
    hot = (rng.random(n) < hot_frac).astype(np.int64)
    return _points(rng, [bbox, hot_box], hot, clear_of)


# --- image_tiles ---------------------------------------------------------------

def image_ids(seed: int, n: int, n_tiles_side: int) -> np.ndarray:
    """n distinct tile indices in [0, n_tiles_side²), in seeded order."""
    return _rng(seed, 3).permutation(n_tiles_side * n_tiles_side)[:n].astype(np.int64)


def tile_blocks(seed: int, nx: int, ny: int, n: int, n_tiles_side: int) -> PolyGrid:
    """Square blocks over the fixture box that ``raster`` tiles cover,
    shifted by a seeded sub-block offset so tile centres fall at seeded
    positions inside them, at least 1% of a block away from every edge."""
    x0, y0, x1, _ = FX.grid_params(nx, ny)
    size = (x1 - x0) / n
    # tile-centre positions along one axis, in block units from the box edge
    centres = (np.arange(n_tiles_side) + 0.5) / n_tiles_side * n
    rng = _rng(seed, 4)
    while True:
        ox, oy = rng.uniform(0.0, 1.0, size=2)
        fx, fy = (centres + ox) % 1.0, (centres + oy) % 1.0
        if min(np.minimum(fx, 1 - fx).min(), np.minimum(fy, 1 - fy).min()) > 0.01:
            break
    ox, oy = ox * size, oy * size
    # one extra row and column so the shifted grid still covers the box
    m = n + 1
    rings = []
    for i in range(m):
        for j in range(m):
            a, b = x0 - ox + i * size, y0 - oy + j * size
            rings.append(np.array([(a, b), (a + size, b), (a + size, b + size), (a, b + size), (a, b)]))
    table = pd.DataFrame({
        "block_id": [f"T{k:05d}" for k in range(len(rings))],
        "geometry": [G.wkb_dumps(G.polygon(r)) for r in rings],
    })
    return PolyGrid((x0 - ox, y0 - oy), m, size, table, rings, np.zeros((m, m), dtype=bool))


def to_spark(spark, pdf: pd.DataFrame, schema: str, partitions: int):
    return spark.createDataFrame(pdf, schema=schema).repartition(partitions)
