"""Distributed spatial join operators on grid-cell keys.

The reference's spatial joins are GiST-indexed theta joins (ST_Intersects /
ST_Contains / within-distance — SURVEY.md §2.3 J5-J9, J15-J18).  Spark has no
spatial index, so every one of them is re-expressed as the standard
cell-cover pattern:

    polygon side:  geometry -> covering cell set at res r -> explode
    point   side:  (lon, lat) -> cell at res r
    join    :      equi-join on cell  (broadcast if the polygon side is
                   small; sort-merge otherwise)
    recheck :      exact geometry predicate in a vectorized pandas UDF

and kNN becomes iterative ring expansion (the reference's doubling-radius
loop, /root/reference/src/nominatim_api/reverse.py:160-240 and
getNearestRoadPlaceId partition-functions.sql:285-313).

Scale notes (100 TB design):
* The polygon side of admin-boundary joins (countries, cities) is small
  relative to the point side — always broadcast the exploded cover.
* Point cells inherit the data's skew (cities are hot); AQE skew-join
  splitting (on in the session config) handles hot cells.
* The exact recheck only sees cover-join survivors — the cover at
  ``res_for_extent`` bounds candidate fan-out per polygon.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from nominatim_spark import grid
from nominatim_spark.geometry import ops, wkb


def with_cell(df: DataFrame, lon: str, lat: str, res: int,
              out: str = "cell") -> DataFrame:
    """Attach a cell-id column, computed JVM-side (no Python)."""
    return df.withColumn(out, F.expr(grid.encode_sql(lon, lat, res)))


def cover_cells_pdf(polys: pd.DataFrame, wkb_col: str, key_cols: list[str],
                    res: int) -> pd.DataFrame:
    """Driver/batch helper: explode polygons into covering cells.

    Returns key_cols + ``cell``; bbox cover (superset — exact recheck later).
    """
    rows = []
    for _, r in polys.iterrows():
        g = wkb.parse_wkb(r[wkb_col])
        cells = grid.cover_bbox(*ops.bbox_of(g), res=res)
        for c in cells:
            rows.append(tuple(r[k] for k in key_cols) + (int(c),))
    return pd.DataFrame(rows, columns=key_cols + ["cell"])


def point_in_polygon_join(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    *,
    lon: str = "lon",
    lat: str = "lat",
    poly_key: str = "poly_id",
    wkb_col: str = "wkb",
    res: int | None = None,
) -> DataFrame:
    """Join points to the polygons containing them (J5/J7 pattern).

    ``polygons_pdf`` is a *small* pandas frame (admin boundaries & co) —
    broadcast side.  Returns ``points`` columns + ``poly_key``.

    Plan: points get cells JVM-side; polygon cover cells are broadcast;
    equi-join on cell; exact PiP recheck via mapInPandas over the joined
    batch (vectorized: one polygon parse per distinct polygon per batch).
    """
    spark = points.sparkSession
    if res is None:
        extents = []
        for _, r in polygons_pdf.iterrows():
            b = ops.bbox_of(wkb.parse_wkb(r[wkb_col]))
            extents.append(max(b[2] - b[0], b[3] - b[1]))
        res = grid.res_for_extent(float(np.median(extents)) if extents else 1.0)

    cover = cover_cells_pdf(polygons_pdf, wkb_col, [poly_key], res)
    cover_df = spark.createDataFrame(cover)

    pts = with_cell(points, lon, lat, res)
    cand = pts.join(F.broadcast(cover_df), "cell").drop("cell")

    wkb_by_key = dict(zip(polygons_pdf[poly_key], polygons_pdf[wkb_col]))
    bc = spark.sparkContext.broadcast(wkb_by_key)
    out_schema = cand.schema

    def recheck(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        geoms: dict = {}
        for pdf in batches:
            if pdf.empty:
                yield pdf
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[lon].to_numpy()
            py = pdf[lat].to_numpy()
            for key, idx in pdf.groupby(poly_key).indices.items():
                g = geoms.get(key)
                if g is None:
                    g = geoms[key] = wkb.parse_wkb(bc.value[key])
                keep[idx] = ops.points_in_polygon(g, px[idx], py[idx])
            yield pdf[keep]

    return cand.mapInPandas(recheck, schema=out_schema)


def polygon_cover(geom, res: int, pad: float = 0.0,
                  limit_hint: int = 1 << 22) -> tuple[np.ndarray, np.ndarray]:
    """Cells at ``res`` intersecting ``geom``, classified interior/boundary.

    Returns ``(cells, full)``: ``full[i]`` is True when the cell lies
    entirely inside the polygon — candidates landing there need NO exact
    point-in-polygon recheck, so the polygon geometry never ships to them.
    This is the Spark-side analog of the reference's recursive quad-split
    (lib-sql/functions/utils.sql:394-515): it bounds per-polygon fan-out
    AND keeps the expensive exact predicate on boundary cells only.

    Boundary cells are found by sampling every ring edge at half-cell
    steps and dilating one cell in every direction (supercover-safe: a
    cell crossed by an edge is always within one cell of a sample).
    Remaining bbox cells keep only those whose center is inside.

    ``pad > 0`` (within-distance covers) or non-areal geometries fall back
    to the padded bbox cover with every cell marked boundary.
    """
    x0, y0, x1, y1 = ops.bbox_of(geom)
    if pad > 0.0 or geom.type_name not in ("Polygon", "MultiPolygon"):
        cells = grid.cover_bbox(x0 - pad, y0 - pad, x1 + pad, y1 + pad,
                                res, limit=limit_hint)
        return cells, np.zeros(len(cells), dtype=bool)

    scale = float(1 << res)
    size = grid.cell_size_deg(res)
    bbox_cells = grid.cover_bbox(x0, y0, x1, y1, res, limit=limit_hint)

    # --- boundary cells: sample ring edges at half-cell steps + dilate
    bxy = []
    for exterior, holes in geom.polygons():
        for ring in (exterior, *holes):
            ax, ay = ring[:-1, 0], ring[:-1, 1]
            bx, by = ring[1:, 0], ring[1:, 1]
            span = np.maximum(np.abs(bx - ax), np.abs(by - ay))
            nseg = np.maximum(np.ceil(span / (size / 2)).astype(np.int64), 1)
            tot = nseg + 1
            offs = np.concatenate(([0], np.cumsum(tot)[:-1]))
            within = np.arange(int(tot.sum())) - np.repeat(offs, tot)
            t = within / np.repeat(nseg, tot)
            sx = np.repeat(ax, tot) + t * np.repeat(bx - ax, tot)
            sy = np.repeat(ay, tot) + t * np.repeat(by - ay, tot)
            bxy.append((sx, sy))
    sx = np.concatenate([p[0] for p in bxy])
    sy = np.concatenate([p[1] for p in bxy])
    ix = np.clip(np.floor((sx + 180.0) * scale).astype(np.int64), 0,
                 grid.nx(res) - 1)
    iy = np.clip(np.floor((sy + 90.0) * scale).astype(np.int64), 0,
                 grid.ny(res) - 1)
    pairs = np.unique(ix * np.int64(1 << 28) + iy)
    # 8-neighborhood dilation
    dil = (pairs[:, None]
           + (np.array([-1, 0, 1], dtype=np.int64) * (1 << 28))[None, :])
    dil = (dil[:, :, None]
           + np.array([-1, 0, 1], dtype=np.int64)[None, None, :]).ravel()
    boundary = np.unique(dil)

    bres, bix, biy = grid.decode(bbox_cells)
    bbox_keys = bix * np.int64(1 << 28) + biy
    is_boundary = np.isin(bbox_keys, boundary)

    inner = bbox_cells[~is_boundary]
    if len(inner):
        clon, clat = grid.cell_center(inner)
        inside = ops.points_in_polygon(geom, clon, clat)
        inner = inner[inside]
    cells = np.concatenate([bbox_cells[is_boundary], inner])
    full = np.concatenate(
        [np.zeros(int(is_boundary.sum()), dtype=bool),
         np.ones(len(inner), dtype=bool)]
    )
    return cells, full


def explode_bbox_cells(df: DataFrame, *, res: int, pad: float = 0.0,
                       minx: str = "minx", miny: str = "miny",
                       maxx: str = "maxx", maxy: str = "maxy",
                       out: str = "cell") -> DataFrame:
    """Explode each row into the cells of its padded bbox at ``res``.

    Pure JVM arithmetic (sequence + explode) — the distributed replacement
    for the round-1 driver-side ``cover_bbox`` loops over street/place
    bboxes.  Rows multiply by their cover size; callers pick ``res`` so the
    pad dominates the extent (streets: the reference's 0.015-degree
    token_matches_street box, partition-functions.sql:150-178)."""
    scale = 1 << res
    ix0 = (f"GREATEST(CAST(FLOOR(({minx} - {pad} + 180.0) * {scale}) AS"
           f" BIGINT), CAST(0 AS BIGINT))")
    ix1 = (f"LEAST(CAST(FLOOR(({maxx} + {pad} + 180.0) * {scale}) AS"
           f" BIGINT), CAST({grid.nx(res) - 1} AS BIGINT))")
    iy0 = (f"GREATEST(CAST(FLOOR(({miny} - {pad} + 90.0) * {scale}) AS"
           f" BIGINT), CAST(0 AS BIGINT))")
    iy1 = (f"LEAST(CAST(FLOOR(({maxy} + {pad} + 90.0) * {scale}) AS"
           f" BIGINT), CAST({grid.ny(res) - 1} AS BIGINT))")
    return (
        df.withColumn("_ix", F.explode(F.expr(f"sequence({ix0}, {ix1})")))
        .withColumn("_iy", F.explode(F.expr(f"sequence({iy0}, {iy1})")))
        .withColumn(
            out,
            F.expr(
                f"CAST({res} AS BIGINT) * CAST(72057594037927936 AS BIGINT)"
                f" + _iy * CAST(268435456 AS BIGINT) + _ix"
            ),
        )
        .drop("_ix", "_iy")
    )


DEFAULT_TIERS = (0, 4, 8, 12)


def cover_cells_dist(polys: DataFrame, *, poly_key: str,
                     wkb_col: str = "geometry",
                     res_tiers: tuple[int, ...] = DEFAULT_TIERS,
                     limit: int = 1024) -> DataFrame:
    """Distributed polygon cover: (poly_key, cell, _full) rows.

    mapInPandas over the polygon side — nothing is collected to the
    driver, so the polygon table can be arbitrarily large (the round-1
    driver-collect-and-broadcast pattern died at ~1e8 streets).  Each
    polygon picks the finest tier whose bbox cover stays under ``limit``
    cells (coarser polygons -> coarser cells, the res_for_extent rule);
    the cell id embeds its resolution, so a plain equi-join on ``cell``
    against multi-tier point cells is exact.
    """
    tiers = tuple(sorted(res_tiers))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, cells, fulls = [], [], []
            for key, g in zip(pdf[poly_key], pdf[wkb_col]):
                geom = wkb.parse_wkb(bytes(g))
                bb = ops.bbox_of(geom)
                r = tiers[0]
                for t in reversed(tiers):
                    if grid.cover_count(*bb, t) <= limit:
                        r = t
                        break
                cc, ff = polygon_cover(geom, r)
                keys.append(np.full(len(cc), key, dtype=np.int64))
                cells.append(cc)
                fulls.append(ff)
            if keys:
                yield pd.DataFrame({
                    poly_key: np.concatenate(keys),
                    "cell": np.concatenate(cells),
                    "_full": np.concatenate(fulls),
                })
            else:
                yield pd.DataFrame({
                    poly_key: pd.Series(dtype="int64"),
                    "cell": pd.Series(dtype="int64"),
                    "_full": pd.Series(dtype="bool"),
                })

    return polys.select(poly_key, wkb_col).mapInPandas(
        gen, schema=f"{poly_key} long, cell long, _full boolean"
    )


def point_in_polygon_join_dist(
    points: DataFrame,
    polys: DataFrame,
    *,
    poly_key: str,
    wkb_col: str = "geometry",
    lon: str = "lon",
    lat: str = "lat",
    carry: tuple[str, ...] = (),
    res_tiers: tuple[int, ...] = DEFAULT_TIERS,
    limit: int = 1024,
) -> DataFrame:
    """Fully distributed point-in-polygon join (J5 at planet scale).

    Unlike :func:`point_in_polygon_join` (pandas polygon side, broadcast
    dict — fine for the bounded country table only), BOTH sides are
    DataFrames and nothing unbounded reaches the driver:

      polygon side : mapInPandas -> multi-tier classified cover cells
      point side   : one cell id per tier (JVM arithmetic) -> explode
      join         : equi-join on cell (AQE broadcasts small covers)
      full cells   : accepted with no recheck (geometry never ships)
      boundary     : join geometry by key, exact vectorized PiP recheck

    Returns ``points`` columns + ``poly_key`` + ``carry`` (extra polygon
    attribute columns riding the key join — saves callers a second join).
    """
    cover = cover_cells_dist(polys, poly_key=poly_key, wkb_col=wkb_col,
                             res_tiers=res_tiers, limit=limit)
    tiers = tuple(sorted(res_tiers))
    pts = points.withColumn(
        "cell",
        F.explode(F.array(*[F.expr(grid.encode_sql(lon, lat, r))
                            for r in tiers])),
    )
    cand = pts.join(cover, "cell").drop("cell")

    full_hits = cand.filter(F.col("_full")).drop("_full")
    partial = cand.filter(~F.col("_full")).drop("_full")

    geo = polys.select(poly_key, F.col(wkb_col).alias("_wkb"))
    withg = partial.join(geo, poly_key)
    out_cols = [f.name for f in withg.schema if f.name != "_wkb"]
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in withg.schema if f.name != "_wkb"
    )

    def recheck(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pdf[out_cols]
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[lon].to_numpy()
            py = pdf[lat].to_numpy()
            for key, idx in pdf.groupby(poly_key).indices.items():
                g = wkb.parse_wkb(bytes(pdf["_wkb"].iloc[idx[0]]))
                keep[idx] = ops.points_in_polygon(g, px[idx], py[idx])
            yield pdf.loc[keep, out_cols]

    checked = withg.mapInPandas(recheck, schema=out_schema)
    hits = full_hits.select(*out_cols).unionByName(checked)
    if carry:
        attrs = polys.select(poly_key, *carry)
        hits = hits.join(attrs, poly_key)
    return hits


def _explode_disk(df: DataFrame, lon: str, lat: str, res: int,
                  k: int) -> DataFrame:
    """Explode each point row into its Chebyshev k-disk of cells at ``res``
    (JVM arithmetic: sequence + explode, out-of-range cells dropped).

    Longitude does NOT wrap across the antimeridian: the engine is planar
    degrees throughout (candidate encoding clamps, exact distance filters
    are unwrapped), so a wrapped probe cell could only produce candidates
    the distance filter discards anyway — cells beyond the [-180, 180)
    edge are simply dropped, mirroring the latitude clip."""
    scale = 1 << res
    out = df.withColumn(
        "_ix", F.expr(f"CAST(FLOOR(({lon} + 180.0) * {scale}) AS BIGINT)")
    ).withColumn(
        "_iy", F.expr(f"CAST(FLOOR(({lat} + 90.0) * {scale}) AS BIGINT)")
    )
    offs = F.expr(f"sequence({-k}, {k})")
    return (
        out.withColumn("_dx", F.explode(offs))
        .withColumn("_dy", F.explode(offs))
        .withColumn(
            "cell",
            F.expr(
                f"CAST({res} AS BIGINT) * CAST({2**56} AS BIGINT)"
                f" + (_iy + _dy) * CAST({2**28} AS BIGINT)"
                f" + (_ix + _dx)"
            ),
        )
        .filter(F.col("_iy") + F.col("_dy") >= 0)
        .filter(F.col("_iy") + F.col("_dy") < 180 * scale)
        .filter(F.col("_ix") + F.col("_dx") >= 0)
        .filter(F.col("_ix") + F.col("_dx") < 360 * scale)
        .drop("_ix", "_iy", "_dx", "_dy")
    )


def within_distance_join(
    points: DataFrame,
    candidates: DataFrame,
    *,
    radius_deg: float,
    res: int | None = None,
    point_key: str = "point_id",
    cand_key: str = "cand_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """All candidates within ``radius_deg`` of each point (J18 NearSearch
    geometry: the reference's within-distance theta join,
    db_searches/near_search.py:75-135, as a disk-cell cover equi-join +
    exact distance filter).

    Returns (point_key, cand_key, dist2).  ``res`` defaults to the coarsest
    resolution where the disk spans <= 2 cells per axis — fan-out is then
    a bounded 5x5 cell block regardless of radius.
    """
    if res is None:
        res = max(0, min(grid.MAX_RES,
                         int(np.floor(np.log2(2.0 / max(radius_deg, 1e-9))))))
    k = int(np.ceil(radius_deg * (1 << res)))
    cand = with_cell(candidates, lon, lat, res).select(
        F.col(cand_key), F.col(lon).alias("_clon"),
        F.col(lat).alias("_clat"), "cell",
    )
    pts = _explode_disk(points.select(point_key, lon, lat), lon, lat, res, k)
    return (
        pts.join(cand, "cell")
        .withColumn(
            "dist2",
            (F.col(lon) - F.col("_clon")) * (F.col(lon) - F.col("_clon"))
            + (F.col(lat) - F.col("_clat")) * (F.col(lat) - F.col("_clat")),
        )
        .filter(F.col("dist2") <= radius_deg * radius_deg)
        .select(point_key, cand_key, "dist2")
        .dropDuplicates([point_key, cand_key])
    )


def knn_join(
    points: DataFrame,
    candidates: DataFrame,
    *,
    k_cells_start: int = 2,  # k=1's provable radius is 0 cells — wasted round
    k_cells_max: int = 256,
    res: int = 0,
    point_key: str = "point_id",
    cand_key: str = "cand_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Nearest-candidate join by iterative cell-ring expansion (J6).

    For each distinct ``point_key``, finds the single nearest candidate by
    planar squared euclidean distance (ties broken by ``cand_key``),
    expanding the search disk 1 -> 2 -> 4 ... cells until the best match is
    provably nearest (found distance <= (k-1) * cell_size — anything outside
    the disk is farther).  Unresolved points escalate to the next round;
    resolved points exit, so each round's join only carries the remainder —
    this is the distributed analog of the reference's per-row
    doubling-radius loop (reverse.py:160-240), with the loop over *rounds*
    instead of rows.

    Returns columns: point_key, cand_key, dist2.
    """
    cand = with_cell(candidates, lon, lat, res).select(
        F.col(cand_key), F.col(lon).alias("_clon"), F.col(lat).alias("_clat"), "cell"
    )
    cand.persist()
    remaining = points.select(point_key, lon, lat)
    results = []
    k = k_cells_start
    k_prev = 0  # radius already searched in earlier rounds (annulus bound)
    carry = None  # unresolved points' best-so-far from the searched disk
    size = grid.cell_size_deg(res)
    # remaining-point bookkeeping: counting the per-round RESOLVED rows
    # (a filter over that round's localCheckpoint leaf) replaces the
    # remaining.isEmpty() probe, whose anti-join had to be re-planned
    # from scratch every round — at sf0.1 the planning gaps, not the
    # tasks, dominate this operator (profiled: 24 jobs of <0.2s each).
    # Counted in distinct point keys, the unit each round resolves, so
    # duplicate keys cannot leave a phantom remainder.
    n_remaining: int | None = None

    while k <= k_cells_max:
        if n_remaining == 0:
            break
        if n_remaining is None:
            n_remaining = remaining.select(point_key).distinct().count()
            if n_remaining == 0:
                break
        # explode each point into its disk(k) of cells — JVM-side
        # arithmetic.  Escalation rounds explode only the ANNULUS
        # (max(|dx|,|dy|) > k_prev): the inner disk was joined last round
        # and its per-point best rides forward in ``carry``, so round N
        # never re-joins rounds 1..N-1's cells (VERDICT r4 'what's wrong'
        # #2 — at k=256 the annulus is ~75% of the disk, and the carry
        # keeps the union's window correct).
        scale = 1 << res
        pts = remaining.withColumn(
            "_ix", F.expr(f"CAST(FLOOR(({lon} + 180.0) * {scale}) AS BIGINT)")
        ).withColumn(
            "_iy", F.expr(f"CAST(FLOOR(({lat} + 90.0) * {scale}) AS BIGINT)")
        )
        offs = F.expr(f"sequence({-k}, {k})")
        pts = (
            pts.withColumn("_dx", F.explode(offs))
            .withColumn("_dy", F.explode(offs))
        )
        if k_prev > 0:
            pts = pts.filter(
                F.greatest(F.abs(F.col("_dx")), F.abs(F.col("_dy")))
                > F.lit(k_prev)
            )
        pts = (
            pts.withColumn(
                "cell",
                F.expr(
                    f"CAST({res} AS BIGINT) * CAST({2**56} AS BIGINT)"
                    f" + (_iy + _dy) * CAST({2**28} AS BIGINT)"
                    f" + pmod(_ix + _dx, {360 * scale})"
                ),
            )
            .filter(F.col("_iy") + F.col("_dy") >= 0)
            .filter(F.col("_iy") + F.col("_dy") < 180 * scale)
            .drop("_ix", "_iy", "_dx", "_dy")
        )
        joined = pts.join(cand, "cell").withColumn(
            "dist2",
            (F.col(lon) - F.col("_clon")) * (F.col(lon) - F.col("_clon"))
            + (F.col(lat) - F.col("_clat")) * (F.col(lat) - F.col("_clat")),
        ).select(point_key, cand_key, "dist2")
        if carry is not None:
            joined = joined.unionByName(carry)
        # per-point best via min_by hash aggregation, NOT a sort window:
        # the partial (map-side) aggregate collapses each partition to one
        # row per point before the exchange, where row_number shuffled and
        # sorted every candidate row (guide §2.3 "aggregate before you
        # shuffle").  min over struct(dist2, cand_key) == the old
        # ORDER BY dist2, cand_key tie-break, so results are identical.
        best = (
            joined.groupBy(point_key)
            .agg(F.expr(
                f"min_by(struct({cand_key}, dist2), "
                f"struct(dist2, {cand_key}))"
            ).alias("_b"))
            .select(point_key, f"_b.{cand_key}", "_b.dist2")
        )
        # one materialization per round: truncates the lineage so the
        # resolved/carry/anti-join consumers (and later rounds) never
        # re-execute this round's explode+join+window (VERDICT r4 #2)
        best = best.localCheckpoint(eager=True)
        # provably nearest iff sqrt(dist2) <= (k-1)*cell_size
        guarantee = ((k - 1) * size) ** 2
        resolved = best.filter(F.col("dist2") <= F.lit(guarantee))
        if k >= k_cells_max:
            resolved = best  # last round: accept best-effort (exhaustive disk)
        results.append(resolved)
        remaining = remaining.join(
            resolved.select(point_key), point_key, "left_anti"
        )
        carry = best.filter(F.col("dist2") > F.lit(guarantee))
        n_remaining -= resolved.count()
        k_prev = k
        # widen aggressively (x8, not x2): round 1 resolves the dense
        # mass, so one escalation should land virtually every straggler
        # instead of paying 2-3 more driver-side planning+checkpoint
        # rounds; the annulus explode stays bounded ((2k+1)^2 cells) and
        # the guarantee logic is schedule-independent, so results are
        # identical for any schedule
        k = min(k * 8, k_cells_max) if k < k_cells_max else k_cells_max + 1

    if not results:  # empty probe side: no rounds ran
        spark = points.sparkSession
        return spark.createDataFrame(
            [], f"{point_key} {dict((f.name, f.dataType.simpleString()) for f in points.schema)[point_key]}, "
                f"{cand_key} {dict((f.name, f.dataType.simpleString()) for f in candidates.schema)[cand_key]}, "
                "dist2 double",
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out
