"""Tests for the benchmark's own code (no Spark session is started)."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import checks as K  # noqa: E402
import inputs as I  # noqa: E402
import measure as M  # noqa: E402
import run as R  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


# --- self time ------------------------------------------------------------------

def _span(name, start, end, parent=None):
    return M.Span(name, start, end, parent, "t")


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),  # overlaps a on [3, 4]
        _span("c", 8.0, 12.0, 0),  # runs past the parent: only [8, 10] counts
        _span("a.child", 1.5, 2.0, 1),
    ]
    st = M.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))  # children cover [1, 6] and [8, 10]
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    assert M.self_time_by_name(spans)["a"] == pytest.approx(2.5)


def test_covered_merges_nested_and_disjoint_intervals():
    assert M.covered([]) == 0.0
    assert M.covered([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_tracer_records_parents_and_disabled_tracer_records_nothing():
    t = M.Tracer("run", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert all(s.end >= s.start for s in t.spans)
    off = M.Tracer("run", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


# --- metric names ------------------------------------------------------------------

def test_metric_name_pattern():
    for ok in ("job_s", "exec.max_task_ms", "operators.reblock_op.s", "a-b.c_9"):
        assert M.valid_name(ok)
    for bad in ("", "job s", "p/99", "_lead", ".lead", "x" * 65, "ms→s"):
        assert not M.valid_name(bad)


def test_every_reported_metric_name_is_valid_and_unique():
    names = list(R.E2E) + list(R.LAYERS)
    assert all(M.valid_name(n) for n in names)
    assert len(set(names)) == len(names)


def test_benchmark_json_matches_what_the_runner_reports():
    with open(BENCHMARK) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.LAYERS
    import workloads as W

    assert {w["name"] for w in spec["workloads"]} <= set(W.WORKLOADS)


def test_parse_spark_metric_strings():
    assert M.parse_metric("total (min, med, max (stageId: taskId))\n12.1 s (315 ms, 2.4 s, 2.8 s (stage 0.0: task 2))") == pytest.approx(12.1)
    assert M.parse_metric("total (min, med, max)\n785.8 KiB (98.2 KiB, 98.2 KiB)") == pytest.approx(785.8 * 1024)
    assert M.parse_metric("41 ms (0 ms, 4 ms, 20 ms (stage 2.0: task 9))") == pytest.approx(0.041)
    assert M.parse_metric("100,000") == 100000.0


# --- seeded inputs -------------------------------------------------------------------

def _frames(seed):
    w = I.region_world(seed, 3, 3, 4, 1, 1)
    g = I.poly_grid(seed, 4, 0.01)
    return [
        w.lines, w.gadm, w.buildings, g.table,
        I.uniform_points(seed, 5, 50, g.bbox),
        I.skewed_points(seed, 6, 50, g.bbox, 0.7, (g.bbox[0], g.bbox[1], g.bbox[0] + 0.001, g.bbox[1] + 0.001)),
        I.tile_blocks(seed, 3, 3, 2, 8).table,
    ]


def _bytes(frames):
    return [f.to_parquet(index=False) for f in frames]


def test_same_seed_gives_byte_identical_inputs():
    assert _bytes(_frames(7)) == _bytes(_frames(7))
    assert np.array_equal(I.image_ids(7, 20, 8), I.image_ids(7, 20, 8))


def test_another_seed_gives_other_inputs():
    a, b = _bytes(_frames(7)), _bytes(_frames(8))
    assert all(x != y for x, y in zip(a, b))
    assert not np.array_equal(I.image_ids(7, 20, 8), I.image_ids(8, 20, 8))


def test_points_keep_clear_of_polygon_edges():
    g = I.poly_grid(4, 6, 0.01, split_frac=0.5)
    hot = (g.bbox[0] + 0.015, g.bbox[1] + 0.015, g.bbox[0] + 0.025, g.bbox[1] + 0.025)
    for pts in (I.uniform_points(4, 5, 20_000, g.bbox, clear_of=g),
                I.skewed_points(4, 6, 20_000, g.bbox, 0.7, hot, clear_of=g)):
        x, y = pts["x"].to_numpy(), pts["y"].to_numpy()
        assert g.edge_distance(x, y).min() >= I.EDGE_MARGIN
        hits = K.brute_pip(pts["pid"].to_numpy(), x, y, g.rings)
        assert len(hits) == len(pts) == len({p for p, _ in hits})
    # the distance is measured to the diagonal of split squares too
    i, j = np.argwhere(g.split)[0]
    a, b = g.origin[0] + i * g.size, g.origin[1] + j * g.size
    assert g.edge_distance(np.array([a + 0.3 * g.size]), np.array([b + 0.3 * g.size]))[0] < 1e-15


def test_region_world_keeps_the_fixture_closed_form():
    w = I.region_world(3, 14, 14, 6, 2, 2)
    assert w.expected_blocks() == 14 * 14 + 28  # 196 cells, 28 with a diagonal
    assert len(w.buildings) == 14 * 14 * 6
    x0, y0, x1, y1 = w.bbox
    assert (x1 - x0, y1 - y0) == pytest.approx((14 * I.CELL, 14 * I.CELL))


# --- output checks reject corrupted results ----------------------------------------

def test_region_check_rejects_wrong_counts():
    assert K.check_region_k(1829, 38400, 1829, 38400) == []
    assert K.check_region_k(1828, 38400, 1829, 38400)
    assert K.check_region_k(1829, 38399, 1829, 38400)


def test_stage_and_resume_checks_reject_changes():
    want = {"blocks": 41, "parcels": 216}
    assert K.check_stage_rows({"blocks": 41, "parcels": 216, "reblock": 9}, want) == []
    assert K.check_stage_rows({"blocks": 41, "parcels": 215}, want)
    before = {"blocks": 41, "_ledger": (12, 3000)}
    assert K.check_resume(before, dict(before)) == []
    assert K.check_resume(before, {"blocks": 41, "_ledger": (13, 3100)})  # a resume that appended
    assert K.check_resume(before, {"blocks": 82, "_ledger": (12, 3000)})  # rows recomputed


def test_pip_reference_and_check_reject_a_moved_point():
    g = I.poly_grid(1, 5, 0.01)
    pts = I.uniform_points(1, 5, 300, g.bbox)
    want = K.brute_pip(pts["pid"].to_numpy(), pts["x"].to_numpy(), pts["y"].to_numpy(), g.rings)
    assert {p for p, _ in want} == set(range(300))  # the grid covers its box
    assert K.check_pairs("pip", set(want), want) == []
    p, j = next(iter(want))
    corrupted = (set(want) - {(p, j)}) | {(p, (j + 1) % len(g.rings))}
    assert K.check_pairs("pip", corrupted, want)
    assert K.check_pairs("pip", set(want) - {(p, j)}, want)


def test_knn_and_radius_checks_reject_corruption():
    rng = np.random.default_rng(0)
    bid = np.arange(200)
    bx, by = rng.random(200), rng.random(200)
    px, py = rng.random(5), rng.random(5)
    want = dict(enumerate(K.brute_knn(px, py, bid, bx, by, 3)))
    assert K.check_knn({p: list(v) for p, v in want.items()}, want) == []
    swapped = {p: list(v) for p, v in want.items()}
    swapped[0] = [swapped[0][1], swapped[0][0], swapped[0][2]]
    assert K.check_knn(swapped, want)
    pairs = K.brute_radius(np.arange(5), px, py, bid, bx, by, 0.2)
    assert pairs and K.check_pairs("radius", set(pairs), pairs) == []
    assert K.check_pairs("radius", set(list(pairs)[1:]), pairs)


def test_tile_checks_reject_a_misassigned_tile():
    g = I.tile_blocks(2, 10, 10, 6, 64)
    idx = I.image_ids(2, 200, 64)
    x0, y0 = I.FX.grid_params(10, 10)[:2]
    tw = 10 * I.CELL / 64
    cx, cy = K.tile_centres(idx, 64, x0, y0, tw, tw)
    assert K.edge_clearance(cx, cy, g.origin, g.size) > 0.009
    blk = K.expected_tile_blocks(cx, cy, g.origin, g.n, g.size)
    for k in range(0, 200, 17):  # the block index holds the centre
        ring = g.rings[blk[k]]
        assert ring[:, 0].min() < cx[k] < ring[:, 0].max() and ring[:, 1].min() < cy[k] < ring[:, 1].max()
    ids = [f"img_{t:08d}" for t in idx]
    bids = g.table["block_id"].to_numpy()
    want = K.crc_sum(a + b for a, b in zip(ids, bids[blk]))
    moved = blk.copy()
    moved[0] = (moved[0] + 1) % len(bids)
    assert K.crc_sum(a + b for a, b in zip(ids, bids[moved])) != want
    assert K.check_equal("rows", 199, 200)


def test_coverage_check_rejects_a_wrong_sum():
    tile = (0.0, 0.0, 1.0, 1.0)
    assert K.pixel_coverage(tile, (0.0, 0.0, 1.0, 1.0), 8, 8) == 1.0
    assert K.pixel_coverage(tile, (-1.0, -1.0, 0.5, 2.0), 8, 8) == 0.5
    assert K.check_close("coverage", 12.5, 12.5) == []
    assert K.check_close("coverage", 12.5 + 1e-6, 12.5)
    assert K.check_close("coverage", None, 12.5)
