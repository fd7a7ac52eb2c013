"""The four workloads. Each one generates its seeded inputs, runs one pass as
a list of checked operations through the public functions of
``prclz_spark``, and (traced runs only) probes the layers it mostly runs in.

An op's ``run`` calls the program and materializes its output; its ``check``
then turns that output into a list of problems. Only ``run`` is timed; an op
that raises or reports a problem is a failure and is never used as a timing.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import functions as F

import checks as K
import inputs as I
from measure import PHASES, plan_phases_ms

from prclz_spark import cells as C
from prclz_spark import fixtures as FX
from prclz_spark import geom as G


@dataclass
class Op:
    name: str  # reported as <name>_s
    run: Callable[[], object]
    check: Callable[[object], list]


class Workload:
    name = ""
    # workloads whose checked passes and layer probes run inside this one's
    # traced run instead of being timed on their own
    COMPANIONS: tuple = ()
    # Spark settings of this workload's session on top of the run's own
    CONF: dict = {}

    def __init__(self, spark, seed: int, work_dir: str, tracer, partitions: int):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.partitions = partitions
        self.plan_ms = dict.fromkeys(PHASES, 0.0)
        self._cached: list = []

    # --- helpers -------------------------------------------------------------
    def cache(self, df):
        """Persist and materialize an input table (set-up work)."""
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def drop_inputs(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def first(self, name: str, df):
        """Run ``df`` to a single row; in traced runs also read its planning
        phases."""
        if self.tracer.enabled:
            with self.tracer.span(f"{name}.plan"):
                for k, v in plan_phases_ms(df).items():
                    self.plan_ms[k] += v
        with self.tracer.span(f"{name}.execute"):
            return df.first()

    def timed(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        return out, (time.perf_counter() - t0) * 1e3

    def sample_rule(self, n: int, want: int):
        """Seeded probe sample: ids with id % mod == rem."""
        mod = max(1, n // want)
        rem = int(np.random.default_rng([self.seed, 9]).integers(0, mod))
        return mod, rem

    # --- interface -----------------------------------------------------------
    def make_inputs(self) -> None:
        raise NotImplementedError

    def ops(self) -> list:
        raise NotImplementedError

    def config(self) -> dict:
        return {}

    def layer_metrics(self) -> dict:
        """Traced runs: numbers for the layers this workload mostly runs in."""
        return {}


# --- region_k -----------------------------------------------------------------------

class RegionWorld(Workload):
    """A seeded NX×NX-cell world of G_SIDE×G_SIDE regions with PER_CELL
    buildings per cell, cached as lines, gadm and buildings tables."""
    NX, G_SIDE, PER_CELL = 0, 0, 0

    def make_inputs(self) -> None:
        self.drop_inputs()
        from prclz_spark import schemas as S

        w = self.world = I.region_world(self.seed, self.NX, self.NX, self.PER_CELL,
                                        self.G_SIDE, self.G_SIDE)
        self.lines = self.cache(FX.to_spark(self.spark, w.lines, S.LINES))
        self.gadm = self.cache(FX.to_spark(self.spark, w.gadm, S.GADM))
        self.bldgs = self.cache(I.to_spark(self.spark, w.buildings, S.BUILDINGS, self.partitions))
        self.res = C.choose_resolution(*w.bbox, n_features=w.n_cells * 4)

    def config(self) -> dict:
        w = self.world
        return {"cells": f"{w.nx}x{w.ny}", "regions": f"{w.gx}x{w.gy}", "buildings": len(w.buildings),
                "expected_blocks": w.expected_blocks(), "res": self.res}


class RegionK(RegionWorld):
    name = "region_k"
    NX, G_SIDE, PER_CELL = 40, 8, 24

    def ops(self) -> list:
        from prclz_spark.operators.fused import fused_blocks_k

        def region_k():
            df = fused_blocks_k(self.lines, self.gadm, self.bldgs, self.res)
            n_pts = (F.length("centroids_multipoint") - K.MULTIPOINT_HEADER) / K.POINT_BYTES
            return self.first("operators.fused.fused_blocks_k", df.agg(
                F.count("*").alias("blocks"), F.sum(n_pts).alias("assigned")))

        def check(row):
            return K.check_region_k(row["blocks"], int(row["assigned"] or 0),
                                    self.world.expected_blocks(), len(self.world.buildings))

        return [Op("region_k", region_k, check)]

    def layer_metrics(self) -> dict:
        from prclz_spark.functions.st import st_cells, st_centroid_xy_cell
        from prclz_spark.kernels import planar as P

        out = {}
        cells = st_cells(self.res)
        _, out["functions.st.cells_ms"] = self.timed("functions.st.st_cells", lambda: self.lines.select(
            F.sum(F.size(cells("geometry")))).first())
        cc = st_centroid_xy_cell(self.res)
        _, out["functions.st.centroid_cell_ms"] = self.timed(
            "functions.st.st_centroid_xy_cell",
            lambda: self.bldgs.select(F.sum(cc("geometry").getField("cell") % 7)).first())
        # kernels.planar + geom, called directly on a seeded sample of regions
        w = self.world
        line_geoms = G.wkb_loads_batch(w.lines["geometry"])
        seg_boxes = np.array([G.bounds(g) for g in line_geoms])
        cents = G.batch_centroid(G.wkb_loads_batch(w.buildings["geometry"]))
        rng = np.random.default_rng([self.seed, 11])
        poly_ms = cplx_ms = pip_ms = max_block = 0.0
        n_blocks = 0
        for gi in rng.choice(len(w.gadm), size=min(4, len(w.gadm)), replace=False):
            region = G.wkb_loads(w.gadm["geometry"].iloc[gi])
            ring = region.data[0]
            xmin, ymin, xmax, ymax = G.bounds(region)
            near = ((seg_boxes[:, 0] <= xmax) & (seg_boxes[:, 2] >= xmin)
                    & (seg_boxes[:, 1] <= ymax) & (seg_boxes[:, 3] >= ymin))
            arrays = [line_geoms[i].data for i in np.flatnonzero(near)]
            t0 = time.perf_counter()
            with self.tracer.span("kernels.planar.polygonize_region"):
                blocks = P.polygonize_region(ring, arrays)
            poly_ms += (time.perf_counter() - t0) * 1e3
            n_blocks += len(blocks)
            for blk in blocks:
                t0 = time.perf_counter()
                with self.tracer.span("geom.points_in_polygon_bulk"):
                    m = G.points_in_polygon_bulk(cents[:, 0], cents[:, 1], G.Geom(G.POLYGON, [blk]))
                t1 = time.perf_counter()
                pip_ms += (t1 - t0) * 1e3
                if m.any():
                    with self.tracer.span("kernels.planar.block_complexity"):
                        P.block_complexity(blk, cents[m])
                    dt = (time.perf_counter() - t1) * 1e3
                    cplx_ms += dt
                    max_block = max(max_block, dt)
        out.update({
            "kernels.planar.polygonize_ms": poly_ms,
            "kernels.planar.complexity_ms": cplx_ms,
            "kernels.planar.max_block_ms": max_block,
            "kernels.planar.blocks": n_blocks,
            "geom.pip_bulk_ms": pip_ms,
        })
        return out


# --- staged_resume -------------------------------------------------------------------

def dir_state(root: str) -> dict:
    """Per top-level directory: (files, bytes) of everything under it."""
    out = {}
    for d in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        files = nbytes = 0
        for base, _, fs in os.walk(os.path.join(root, d)):
            for f in fs:
                files += 1
                nbytes += os.path.getsize(os.path.join(base, f))
        out[d] = (files, nbytes)
    return out


class StagedResume(RegionWorld):
    name = "staged_resume"
    NX, G_SIDE, PER_CELL = 6, 2, 6
    STAGES = ("blocks", "parcels", "complexity", "reblock")

    def make_inputs(self) -> None:
        super().make_inputs()
        self.out_dir = os.path.join(self.work_dir, "pipeline")
        self.reblock_rows = None
        self.last_state: dict = {}
        self.resume_delta = 0

    def _run(self, span: str) -> dict:
        from prclz_spark.pipeline import run_pipeline

        with self.tracer.span(span):
            outs = run_pipeline(self.spark, self.lines, self.gadm, self.bldgs, self.out_dir, self.res)
        with self.tracer.span(f"{span}.read_back"):
            return {s: outs[s].count() for s in self.STAGES}

    def ops(self) -> list:
        def pipeline():
            shutil.rmtree(self.out_dir, ignore_errors=True)
            return self._run("pipeline.run_pipeline")

        def check_pipeline(rows):
            self.last_state = {"rows": rows, "files": dir_state(self.out_dir)}
            want = {"blocks": self.world.expected_blocks(), "parcels": len(self.world.buildings),
                    "complexity": self.world.expected_blocks()}
            problems = K.check_stage_rows(rows, want)
            if not rows["reblock"]:
                problems.append("reblock: no rows")
            if self.reblock_rows is None:
                self.reblock_rows = rows["reblock"]
            return problems + K.check_stage_rows(rows, {"reblock": self.reblock_rows})

        def resume():
            return self._run("pipeline.run_pipeline.resume")

        def check_resume(rows):
            before = self.last_state
            after = {"rows": rows, "files": dir_state(self.out_dir)}
            self.resume_delta = sum(rows.values()) - sum(before["rows"].values())
            return K.check_resume({**before["rows"], **before["files"]},
                                  {**after["rows"], **after["files"]})

        return [Op("pipeline", pipeline, check_pipeline), Op("resume", resume, check_resume)]

    def layer_metrics(self) -> dict:
        from prclz_spark.operators.blocks import extract_blocks
        from prclz_spark.operators.complexity import k_complexity
        from prclz_spark.operators.ledger import Ledger
        from prclz_spark.operators.parcels import tessellate
        from prclz_spark.operators.reblock_op import reblock

        out = {}
        files = self.last_state.get("files", {})
        out["pipeline.files_written"] = sum(f for f, _ in files.values())
        out["pipeline.bytes_written_mb"] = sum(b for _, b in files.values()) / 2**20
        out["pipeline.rows_recomputed_on_resume"] = self.resume_delta
        led = Ledger(self.spark, os.path.join(self.out_dir, "_ledger"))
        _, out["operators.ledger.filter_pending_ms"] = self.timed(
            "operators.ledger.filter_pending",
            lambda: led.filter_pending(self.gadm, "blocks", "gadm").count())
        out["operators.ledger.rows"] = self.spark.read.parquet(led.path).count()
        # each stage operator on its own, materialized at its boundary
        blocks, ms = self.timed("operators.blocks.extract_blocks",
                                lambda: self.cache(extract_blocks(self.lines, self.gadm, self.res)))
        out["operators.blocks.s"] = ms / 1e3
        parcels, ms = self.timed("operators.parcels.tessellate",
                                 lambda: self.cache(tessellate(blocks, self.bldgs, self.res)))
        out["operators.parcels.s"] = ms / 1e3
        _, ms = self.timed("operators.complexity.k_complexity",
                           lambda: k_complexity(blocks, self.bldgs, self.res).count())
        out["operators.complexity.s"] = ms / 1e3
        _, ms = self.timed("operators.reblock_op.reblock",
                           lambda: reblock(blocks, parcels, self.bldgs, self.res).count())
        out["operators.reblock_op.s"] = ms / 1e3
        return out


# --- point_joins ------------------------------------------------------------------------

class PointJoins(Workload):
    name = "point_joins"
    # keep the salted join a shuffle join: Spark would otherwise broadcast
    # the small polygon side (explicit broadcast hints still apply)
    CONF = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    GRID, GRID_CELL = 20, 0.01
    N_PIP, N_SKEW, HOT_FRAC = 100_000, 100_000, 0.7
    N_KNN, K_NN, NEIGHBOURS = 10_000, 5, 4.0
    SAMPLE = 400

    def make_inputs(self) -> None:
        self.drop_inputs()
        s = self.seed
        g = self.grid = I.poly_grid(s, self.GRID, self.GRID_CELL)
        self.res = C.choose_resolution(*g.bbox, n_features=len(g.table) * 4)
        cx, cy = (g.bbox[0] + g.bbox[2]) / 2, (g.bbox[1] + g.bbox[3]) / 2
        hb = C.cell_bounds(int(C.cell_of_xy(np.array([cx]), np.array([cy]), self.res)[0]))
        hot_box = (max(hb[0], g.bbox[0]), max(hb[1], g.bbox[1]), min(hb[2], g.bbox[2]), min(hb[3], g.bbox[3]))
        self.pts_pd = I.uniform_points(s, 5, self.N_PIP, g.bbox, clear_of=g)
        self.skew_pd = I.skewed_points(s, 6, self.N_SKEW, g.bbox, self.HOT_FRAC, hot_box, clear_of=g)
        self.probe_pd = I.uniform_points(s, 7, self.N_KNN, g.bbox)
        self.build_pd = I.uniform_points(s, 8, self.N_KNN, g.bbox).rename(columns={"pid": "bid"})
        area = (g.bbox[2] - g.bbox[0]) * (g.bbox[3] - g.bbox[1])
        self.radius = float(np.sqrt(self.NEIGHBOURS * area / (np.pi * self.N_KNN)))
        # ~16 build points per cell: knn_join proves every probe in its first
        # ring batch, so the number of rounds does not depend on the seed
        self.knn_res = C.choose_resolution(*g.bbox, n_features=self.N_KNN, target_per_cell=16.0)
        self.hot_threshold = int(self.N_SKEW * self.HOT_FRAC) // 2
        p = self.partitions
        pts_schema = "pid long, x double, y double"
        self.polys = self.cache(FX.to_spark(self.spark, g.table, "poly_id long, geometry binary"))
        self.pts = self.cache(I.to_spark(self.spark, self.pts_pd, pts_schema, p))
        self.skew = self.cache(I.to_spark(self.spark, self.skew_pd, pts_schema, p))
        self.probes = self.cache(I.to_spark(self.spark, self.probe_pd, pts_schema, p))
        self.build = self.cache(I.to_spark(self.spark, self.build_pd, "bid long, x double, y double", p))

    def config(self) -> dict:
        return {"polys": len(self.grid.table), "pip_points": self.N_PIP, "skew_points": self.N_SKEW,
                "hot_frac": self.HOT_FRAC, "knn_points": f"{self.N_KNN}x{self.N_KNN}", "k": self.K_NN,
                "radius": self.radius, "res": self.res, "knn_res": self.knn_res}

    def _pip_op(self, name: str, span: str, pts, pts_pd, **kw) -> Op:
        from prclz_spark.operators.sjoin import pip_join

        mod, rem = self.sample_rule(len(pts_pd), self.SAMPLE)
        sample = pts_pd[pts_pd["pid"] % mod == rem]

        def run():
            out = pip_join(pts, self.polys, "pid", "poly_id", self.res, **kw)
            return self.first(span, out.agg(
                F.count("*").alias("n"),
                F.collect_list(F.when(F.col("pid") % mod == rem, F.struct("pid", "poly_id"))).alias("s")))

        def check(row):
            want = K.brute_pip(sample["pid"].to_numpy(), sample["x"].to_numpy(), sample["y"].to_numpy(),
                               self.grid.rings)
            got = {(r["pid"], r["poly_id"]) for r in row["s"]}
            return K.check_equal("pip rows", row["n"], len(pts_pd)) + K.check_pairs("pip sample", got, want)

        return Op(name, run, check)

    def ops(self) -> list:
        from prclz_spark.operators.knn import knn_join, within_distance_join

        ppd, bd = self.probe_pd, self.build_pd
        mod, rem = self.sample_rule(len(ppd), self.SAMPLE)
        sample = ppd[ppd["pid"] % mod == rem]
        bid, bx, by = bd["bid"].to_numpy(), bd["x"].to_numpy(), bd["y"].to_numpy()
        in_sample = F.col("pid") % mod == rem

        def knn():
            out = knn_join(self.probes, self.build, "pid", "bid", self.K_NN, self.knn_res)
            return self.first("operators.knn.knn_join", out.agg(
                F.count("*").alias("n"),
                F.collect_list(F.when(in_sample, F.struct("pid", "rank", "bid"))).alias("s")))

        def check_knn(row):
            got: dict = {}
            for r in sorted(row["s"]):
                got.setdefault(r["pid"], []).append(r["bid"])
            want = dict(zip(sample["pid"].tolist(), K.brute_knn(
                sample["x"].to_numpy(), sample["y"].to_numpy(), bid, bx, by, self.K_NN)))
            return K.check_equal("knn rows", row["n"], len(ppd) * self.K_NN) + K.check_knn(got, want)

        def radius():
            out = within_distance_join(self.probes, self.build, "pid", "bid", self.radius, self.knn_res)
            return self.first("operators.knn.within_distance_join", out.agg(
                F.collect_list(F.when(in_sample, F.struct("pid", "bid"))).alias("s")))

        def check_radius(row):
            got = {(r["pid"], r["bid"]) for r in row["s"]}
            want = K.brute_radius(sample["pid"].to_numpy(), sample["x"].to_numpy(),
                                  sample["y"].to_numpy(), bid, bx, by, self.radius)
            return K.check_pairs("radius sample", got, want)

        return [
            self._pip_op("pip", "operators.sjoin.pip_join", self.pts, self.pts_pd),
            self._pip_op("pip_skew", "operators.sjoin.pip_join.salted", self.skew, self.skew_pd,
                         broadcast_build=False, salt=8, hot_threshold=self.hot_threshold),
            Op("knn", knn, check_knn),
            Op("radius", radius, check_radius),
        ]

    def layer_metrics(self) -> dict:
        from prclz_spark.functions.st import st_cells, st_contains_xy, with_cell_point
        from prclz_spark.operators import skew
        from prclz_spark.operators.knn import knn_join
        from prclz_spark.operators.sjoin import pip_join

        out = {}
        cells = st_cells(self.res)
        _, out["functions.st.cells_ms"] = self.timed("functions.st.st_cells", lambda: self.polys.select(
            F.sum(F.size(cells("geometry")))).first())
        # each point paired with the polygon brute force puts it in
        sample = self.pts_pd.iloc[:50_000]
        idx = dict(K.brute_pip(sample["pid"].to_numpy(), sample["x"].to_numpy(),
                               sample["y"].to_numpy(), self.grid.rings))
        pairs_pd = sample.assign(geometry=[self.grid.table["geometry"].iloc[idx[p]] for p in sample["pid"]])
        pairs = self.cache(I.to_spark(self.spark, pairs_pd, "pid long, x double, y double, geometry binary",
                                      self.partitions))
        _, out["functions.st.contains_xy_ms"] = self.timed(
            "functions.st.st_contains_xy",
            lambda: pairs.filter(st_contains_xy(F.col("geometry"), F.col("x"), F.col("y"))).count())
        geoms = G.wkb_loads_batch(self.grid.table["geometry"])
        t0 = time.perf_counter()
        with self.tracer.span("cells.cover"):
            n_cells = sum(len(C.cover(g, self.res)) for g in geoms)
        out["cells.cover_ms"] = (time.perf_counter() - t0) * 1e3
        out["cells.cells_per_poly"] = n_cells / len(geoms)
        cand, _ = self.timed("operators.sjoin.candidates", lambda: pip_join(
            self.pts, self.polys, "pid", "poly_id", self.res, refine=False).count())
        out["operators.sjoin.candidates"] = cand
        out["operators.sjoin.hit_ratio"] = self.N_PIP / cand if cand else 0.0
        with_cells = with_cell_point(self.skew, self.res, "x", "y", "cell")
        hot, out["operators.skew.histogram_ms"] = self.timed(
            "operators.skew.hot_cells", lambda: skew.hot_cells(with_cells, "cell", self.hot_threshold))
        out["operators.skew.hot_cells"] = len(hot)
        # knn ring rounds = eager checkpoints knn_join takes (one per round)
        rounds = [0]
        frame = type(self.probes)
        orig = frame.localCheckpoint

        def counting(df, eager=True, *a, **kw):
            rounds[0] += bool(eager)
            return orig(df, eager, *a, **kw)

        frame.localCheckpoint = counting
        try:
            res, _ = self.timed("operators.knn.knn_join", lambda: knn_join(
                self.probes, self.build, "pid", "bid", self.K_NN, self.knn_res).count())
        finally:
            frame.localCheckpoint = orig
        out["operators.knn.rounds"] = rounds[0]
        out["operators.knn.candidates_per_result"] = self.knn_candidates() / res if res else 0.0
        return out

    def knn_candidates(self) -> int:
        """Candidate pairs of knn_join's first ring batch (the 5×5-cell disk
        around each probe's cell at knn_res), counted with the program's own
        cell ids."""
        def ixy(df):
            ix, iy, _ = C.cell_ixy(C.cell_of_xy(df["x"].to_numpy(), df["y"].to_numpy(), self.knn_res))
            return ix.astype(np.int64), iy.astype(np.int64)

        pix, piy = ixy(self.probe_pd)
        bix, biy = ixy(self.build_pd)
        x0 = min(pix.min(), bix.min()) - 2
        y0 = min(piy.min(), biy.min()) - 2
        grid = np.zeros((max(pix.max(), bix.max()) - x0 + 3, max(piy.max(), biy.max()) - y0 + 3), np.int64)
        np.add.at(grid, (bix - x0, biy - y0), 1)
        return int(sum(grid[pix - x0 + dx, piy - y0 + dy].sum()
                       for dx in range(-2, 3) for dy in range(-2, 3)))


# --- image_tiles ---------------------------------------------------------------------------

IMAGES_DDL = "image_id string, bytes binary, w int, h int, fmt string, caption string, phash bigint"


class ImageTiles(Workload):
    name = "image_tiles"
    T_SIDE, N_IMAGES, PX, BATCHES = 64, 3_000, 32, 4
    NX, BLOCKS_SIDE = 10, 6

    def make_inputs(self) -> None:
        self.drop_inputs()
        from prclz_spark import images as IM

        ids = I.image_ids(self.seed, self.N_IMAGES, self.T_SIDE)
        self.tile_idx = ids
        lut = self.spark.createDataFrame([(i, int(t)) for i, t in enumerate(ids)], "i long, t long")
        raw = IM.images_table(self.spark, self.N_IMAGES, self.PX, self.PX, partitions=self.partitions)
        # seeded tile for every generated image: image i -> tile ids[i]
        self.images = self.cache(
            raw.withColumn("i", F.substring("image_id", 5, 8).cast("long"))
            .join(F.broadcast(lut), "i")
            .withColumn("image_id", F.format_string("img_%08d", F.col("t")))
            .withColumn("batch", F.col("i") % self.BATCHES)
            .drop("i", "t"))
        self.blocks_grid = I.tile_blocks(self.seed, self.NX, self.NX, self.BLOCKS_SIDE, self.T_SIDE)
        self.blocks = self.cache(FX.to_spark(self.spark, self.blocks_grid.table,
                                             "block_id string, geometry binary"))
        x0, y0, x1, y1 = FX.grid_params(self.NX, self.NX)
        self.res = C.choose_resolution(x0, y0, x1, y1, n_features=len(self.blocks_grid.table) * 4)
        self._expected()
        self.user_bytes = self.images.select(F.sum(
            F.length("bytes") + F.length("caption") + F.length("image_id") + F.length("fmt") + 16)).first()[0]
        self.table = os.path.join(self.work_dir, "images_table")

    def _expected(self) -> None:
        from prclz_spark import raster as R

        g = self.blocks_grid
        x0, y0, tw, th = R.tile_grid_params(self.T_SIDE, self.NX, self.NX)
        cx, cy = K.tile_centres(self.tile_idx, self.T_SIDE, x0, y0, tw, th)
        if K.edge_clearance(cx, cy, g.origin, g.size) < 1e-3:
            raise ValueError("seeded block grid puts a tile centre on a block edge")
        blk = K.expected_tile_blocks(cx, cy, g.origin, g.n, g.size)
        ids = [f"img_{t:08d}" for t in self.tile_idx]
        bids = g.table["block_id"].to_numpy()[blk]
        self.want_ids_crc = K.crc_sum(ids)
        self.want_pairs_crc = K.crc_sum(a + b for a, b in zip(ids, bids))
        ci, cj = np.divmod(self.tile_idx % (self.T_SIDE ** 2), self.T_SIDE)
        cov = 0.0
        for i, j, b in zip(ci, cj, blk):
            tile = (x0 + i * tw, y0 + j * th, x0 + (i + 1) * tw, y0 + (j + 1) * th)
            bx, by = divmod(int(b), g.n)
            block = (g.origin[0] + bx * g.size, g.origin[1] + by * g.size,
                     g.origin[0] + (bx + 1) * g.size, g.origin[1] + (by + 1) * g.size)
            cov += K.pixel_coverage(tile, block, self.PX, self.PX)
        self.want_coverage = cov

    def config(self) -> dict:
        return {"images": self.N_IMAGES, "pixels": f"{self.PX}x{self.PX}", "tiles_side": self.T_SIDE,
                "batches": self.BATCHES, "blocks": len(self.blocks_grid.table), "res": self.res}

    def ops(self) -> list:
        from prclz_spark import raster as R
        from prclz_spark.sources import iceberg_lite as IL

        state = {}

        def ingest():
            shutil.rmtree(self.table, ignore_errors=True)
            IL.create_table(self.table, IMAGES_DDL)
            self.append_ms = 0.0
            for b in range(self.BATCHES):
                part = self.images.filter(F.col("batch") == b).drop("batch")
                _, ms = self.timed("sources.iceberg_lite.append", lambda: IL.append(part, self.table))
                self.append_ms += ms
            with self.tracer.span("sources.iceberg_lite.read"):
                tbl = IL.read(self.spark, self.table)
            state["table"] = tbl
            return self.first("sources.iceberg_lite.read", tbl.agg(
                F.count("*").alias("n"), F.sum(F.crc32(F.col("image_id").cast("binary"))).alias("c")))

        def check_ingest(row):
            return K.check_equal("table rows", row["n"], self.N_IMAGES) + K.check_equal("table ids", row["c"], self.want_ids_crc)

        def assign():
            tiles = R.with_footprints(state["table"], self.T_SIDE, self.NX, self.NX)
            out = R.assign_tiles_to_polys(tiles, self.blocks, "block_id", self.res).persist()
            state["assigned"] = out
            return self.first("raster.assign_tiles_to_polys", out.agg(
                F.count("*").alias("n"),
                F.sum(F.crc32(F.concat("image_id", "block_id").cast("binary"))).alias("c")))

        def check_assign(row):
            return K.check_equal("assigned tiles", row["n"], self.N_IMAGES) + K.check_equal(
                "tile assignment", row["c"], self.want_pairs_crc)

        def coverage():
            try:
                out = R.block_coverage(state["assigned"], self.blocks)
                return self.first("raster.block_coverage", out.agg(F.sum("coverage").alias("c")))
            finally:
                state["assigned"].unpersist()

        def check_coverage(row):
            return K.check_close("coverage", row["c"], self.want_coverage)

        return [Op("ingest", ingest, check_ingest), Op("assign", assign, check_assign),
                Op("coverage", coverage, check_coverage)]

    def layer_metrics(self) -> dict:
        from prclz_spark import images as IM
        from prclz_spark.sources import iceberg_lite as IL

        out = {"iceberg_lite.append_ms": self.append_ms}
        snap = IL.current_snapshot(self.table)
        out["iceberg_lite.commits"] = snap + 1
        meta = os.path.join(self.table, "metadata")
        out["iceberg_lite.manifests"] = sum(
            1 for f in os.listdir(meta) if f.startswith("manifest-") and f.endswith(".json"))
        out["iceberg_lite.data_files"] = len(IL.files_at(self.table))
        disk = sum(os.path.getsize(os.path.join(b, f)) for b, _, fs in os.walk(self.table) for f in fs)
        out["iceberg_lite.bytes_per_user_byte"] = disk / self.user_bytes
        tbl, out["iceberg_lite.read_ms"] = self.timed(
            "sources.iceberg_lite.read", lambda: IL.read(self.spark, self.table).count())
        luma = IM.make_udfs()["img_mean_luma"]
        _, out["images.decode_ms"] = self.timed("images.img_mean_luma", lambda: IL.read(
            self.spark, self.table).select(F.sum(luma("bytes", "fmt"))).first())
        return out


RegionK.COMPANIONS = (StagedResume,)
PointJoins.COMPANIONS = (ImageTiles,)
WORKLOADS = {w.name: w for w in (RegionK, StagedResume, PointJoins, ImageTiles)}
