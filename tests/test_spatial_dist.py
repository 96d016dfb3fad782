"""Distributed spatial-join layer: the scale path must be bit-equal to the
bounded pandas/broadcast path (which stays as the correctness baseline for
the country table)."""

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nominatim_spark import grid
from nominatim_spark.geometry import ops, wkb
from nominatim_spark.operators.spatial import (
    cover_cells_dist, explode_bbox_cells, knn_join, point_in_polygon_join,
    point_in_polygon_join_dist, polygon_cover)


def _l_polygon():
    # non-convex L-shape: corner-inside cells are NOT all-full
    return wkb.polygon_wkb(
        [(0.0, 0.0), (4.0, 0.0), (4.0, 1.0), (1.0, 1.0), (1.0, 4.0),
         (0.0, 4.0), (0.0, 0.0)]
    )


def test_polygon_cover_classification():
    geom = wkb.parse_wkb(_l_polygon())
    res = 3  # 1/8-degree cells
    cells, full = polygon_cover(geom, res)
    assert len(cells) == len(full) and len(cells) > 0
    # every full cell: all 4 corners strictly inside the polygon
    for c, f in zip(cells, full):
        x0, y0, x1, y1 = (float(v) for v in grid.cell_bounds(np.int64(c)))
        corners_in = ops.points_in_polygon(
            geom, np.array([x0, x0, x1, x1]), np.array([y0, y1, y0, y1])
        )
        if f:
            assert corners_in.all(), f"full cell {c} has outside corner"
    # no interior point of the polygon escapes the cover
    xs, ys = np.meshgrid(np.linspace(0.01, 3.99, 40),
                         np.linspace(0.01, 3.99, 40))
    xs, ys = xs.ravel(), ys.ravel()
    inside = ops.points_in_polygon(geom, xs, ys)
    covered = np.isin(grid.encode(xs, ys, res), cells)
    assert covered[inside].all()


def test_explode_bbox_cells_matches_cover_bbox(spark):
    pdf = pd.DataFrame({
        "rid": [1, 2], "minx": [9.0, -0.3], "miny": [47.0, 0.1],
        "maxx": [9.4, 0.2], "maxy": [47.2, 0.15],
    })
    df = explode_bbox_cells(spark.createDataFrame(pdf), res=7, pad=0.015)
    got = {
        (r.rid, r.cell) for r in df.select("rid", "cell").collect()
    }
    want = set()
    for r in pdf.itertuples():
        for c in grid.cover_bbox(r.minx - 0.015, r.miny - 0.015,
                                 r.maxx + 0.015, r.maxy + 0.015, 7,
                                 limit=1 << 20):
            want.add((r.rid, int(c)))
    assert got == want


def test_pip_dist_equals_pandas_path(spark):
    rng = np.random.default_rng(7)
    pts_pdf = pd.DataFrame({
        "pid": np.arange(500),
        "lon": rng.uniform(-1.0, 5.0, 500),
        "lat": rng.uniform(-1.0, 5.0, 500),
    })
    polys_pdf = pd.DataFrame({
        "poly_id": [10, 11],
        "wkb": [_l_polygon(),
                wkb.box_wkb(2.0, 2.0, 3.5, 3.5)],
    })
    points = spark.createDataFrame(pts_pdf)
    base = point_in_polygon_join(
        points, polys_pdf, poly_key="poly_id", wkb_col="wkb", res=2
    ).select("pid", "poly_id")
    polys = spark.createDataFrame(
        polys_pdf.rename(columns={"wkb": "geometry"})
    )
    dist = point_in_polygon_join_dist(
        points, polys, poly_key="poly_id", res_tiers=(0, 2, 4), limit=64,
    ).select("pid", "poly_id")
    got = {tuple(r) for r in dist.collect()}
    want = {tuple(r) for r in base.collect()}
    assert got == want and len(want) > 0


def test_pip_dist_carry_columns(spark):
    polys = spark.createDataFrame(
        pd.DataFrame({
            "poly_id": [1], "tag": ["inner"],
            "geometry": [wkb.box_wkb(0.0, 0.0, 1.0, 1.0)],
        })
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "lon": [0.5, 5.0], "lat": [0.5, 5.0]})
    )
    out = point_in_polygon_join_dist(
        pts, polys, poly_key="poly_id", carry=("tag",), res_tiers=(0, 3),
    ).collect()
    assert len(out) == 1 and out[0].tag == "inner" and out[0].pid == 1


def test_cover_cells_dist_full_cells_subset(spark):
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [5], "geometry": [_l_polygon()]})
    )
    rows = cover_cells_dist(
        polys, poly_key="poly_id", res_tiers=(0, 3), limit=2048
    ).collect()
    geom = wkb.parse_wkb(_l_polygon())
    cells = np.array([r.cell for r in rows], dtype=np.int64)
    want_cells, want_full = polygon_cover(geom, 3)
    assert set(cells.tolist()) == set(int(c) for c in want_cells)
    got_full = {r.cell for r in rows if r._full}
    assert got_full == {int(c) for c, f in zip(want_cells, want_full) if f}


def test_knn_join_duplicate_point_keys(spark):
    """Duplicate point keys give the deduplicated answer and run no extra
    escalation rounds (each round is several Spark jobs)."""
    pts = spark.createDataFrame(
        [(i, i * 1.5, i * 0.5) for i in range(6)],
        "point_id long, lon double, lat double")
    cands = spark.createDataFrame(
        [(100 + i, i * 1.5 + 0.1, i * 0.5) for i in range(6)],
        "cand_id long, lon double, lat double")
    sc = spark.sparkContext

    def run(points, group):
        sc.setJobGroup(group, group)
        try:
            return sorted(map(tuple, knn_join(points, cands).collect()))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    want = run(pts, "knn_uniq")
    got = run(pts.unionByName(pts), "knn_dup")
    assert got == want and len(want) == 6
    time.sleep(1.0)  # the status tracker is fed asynchronously
    jobs = {g: len(sc.statusTracker().getJobIdsForGroup(g))
            for g in ("knn_uniq", "knn_dup")}
    assert 0 < jobs["knn_dup"] <= jobs["knn_uniq"], jobs
