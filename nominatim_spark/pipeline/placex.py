"""placex index build — the reference's trigger cascade as DataFrame stages.

The reference builds its place universe row-at-a-time through Postgres
triggers in strict rank order (placex_insert/placex_update,
lib-sql/functions/placex_triggers.sql; rank-ordered driver
src/nominatim_db/indexer/indexer.py:54-88).  Here the same dependency order
becomes a short sequence of set-at-a-time DataFrame stages:

  A. base attributes    — centroid (get_center_point parity), extended
                          type, category backfill, grid cells
  B. country & partition — PiP against country polygons (broadcast cover
                          join), hash partition bucket
  C. ranks              — compute_place_rank + the containment adjustments
                          (boundary overtake / place-category override /
                          place-node subpart), iterated in admin-level order
                          exactly like the indexer's rank loop
  D. parenting          — areas by containment; streets by containment;
                          POIs/houses by addr:street token match then
                          nearest road (find_parent_for_poi cascade,
                          placex_triggers.sql:191-268)

Scale notes: every stage join is a distributed cell-key equi-join — polygon
sides become classified cover cells via mapInPandas (interior cells skip the
exact recheck entirely, so polygon geometry never ships to their
candidates), street/place sides become JVM-generated bbox cover cells
(sequence+explode, no Python), and AQE turns small covers into runtime
broadcasts.  Nothing unbounded is ever collected to the driver; the one
pandas-side exception is the country polygon table (bounded at ~250 rows).
The POI parenting join is the skew-sensitive one (city cells are hot) and
relies on AQE skew-join handling.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nominatim_spark import grid
from nominatim_spark.geometry import ops, wkb
from nominatim_spark.operators.spatial import (
    explode_bbox_cells, point_in_polygon_join, point_in_polygon_join_dist)
from nominatim_spark.pipeline.address_levels import DEFAULT_LEVELS
from nominatim_spark.pipeline.rank import backfill_categories, compute_place_rank

CELL_RES = 7  # centroid locality key (~870 m cells)


# --------------------------------------------------------------- stage A

def base_attributes(place: DataFrame) -> DataFrame:
    """place rows -> placex base: place_id, centroid, extended_type, cells."""

    out_schema = (
        place.schema.simpleString()[7:-1]
        + ",lon double,lat double,minx double,miny double,"
        + "maxx double,maxy double,geom_kind string"
    )

    def geo_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lons, lats = [], []
            bbox = []
            kinds = []
            for g in pdf["geometry"]:
                geom = wkb.parse_wkb(bytes(g))
                x, y = ops.get_center_point(bytes(g))
                lons.append(x)
                lats.append(y)
                bbox.append(ops.bbox_of(geom))
                kinds.append(geom.type_name)
            pdf = pdf.assign(
                lon=lons, lat=lats,
                minx=[b[0] for b in bbox], miny=[b[1] for b in bbox],
                maxx=[b[2] for b in bbox], maxy=[b[3] for b in bbox],
                geom_kind=kinds,
            )
            yield pdf

    df = place.mapInPandas(geo_batch, schema=out_schema)
    df = backfill_categories(df)
    type_num = (
        F.when(F.col("osm_type") == "N", 0)
        .when(F.col("osm_type") == "W", 1)
        .otherwise(2)
    )
    df = (
        df.withColumn("place_id", F.col("osm_id") * 4 + type_num)
        .withColumn(
            "extended_type",
            F.when(
                F.col("geom_kind").isin("Polygon", "MultiPolygon"), F.lit("A")
            ).otherwise(F.col("osm_type")),
        )
        .withColumn(
            "is_major",
            F.coalesce(F.col("extratags").getItem("capital") == "yes", F.lit(False)),
        )
        .withColumn("cell", F.expr(grid.encode_sql("lon", "lat", CELL_RES)))
    )
    return df


# --------------------------------------------------------------- stage B

def assign_country(placex: DataFrame) -> DataFrame:
    """country_code: mapped address.country for country rows
    (placex_triggers.sql:838-846), else PiP against country polygons."""
    countries = placex.filter(
        (F.col("extended_type") == "A")
        & (F.col("admin_level") == 2)
        & F.col("address").getItem("country").isNotNull()
    ).select(
        F.lower(F.col("address").getItem("country")).alias("pip_cc"),
        F.col("geometry"),
    )
    cpdf = countries.toPandas()
    cpdf["geometry"] = cpdf["geometry"].map(bytes)
    if len(cpdf):
        with_cc = point_in_polygon_join(
            placex.select("place_id", "lon", "lat"),
            cpdf.rename(columns={"geometry": "wkb"}),
            poly_key="pip_cc",
            wkb_col="wkb",
        ).select("place_id", "pip_cc")
        placex = placex.join(with_cc, "place_id", "left")
    else:
        placex = placex.withColumn("pip_cc", F.lit(None).cast("string"))
    placex = placex.withColumn(
        "country_code",
        F.coalesce(F.lower(F.col("address").getItem("country")), F.col("pip_cc")),
    ).drop("pip_cc")
    return placex.withColumn(
        "partition", F.pmod(F.xxhash64("country_code"), F.lit(32)).cast("int")
    )


# --------------------------------------------------------------- stage C

_PLACE_ADDR = {
    t: a for (_c, cls, t, _s, a) in DEFAULT_LEVELS if cls == "place" and t
}


def _place_cat_addr_rank():
    """category 'osm.place.X' -> address rank (for the boundary override,
    placex_triggers.sql:1163-1177), as a SQL CASE expression."""
    whens = " ".join(
        f"WHEN 'osm.place.{t}' THEN {a}" for t, a in _PLACE_ADDR.items()
    )
    return f"CASE _bnd_place_cat {whens} ELSE NULL END"


def adjust_ranks(placex: DataFrame) -> DataFrame:
    """Containment-based rank adjustments (placex_triggers.sql:881-978 +
    :1163-1177), iterated over admin levels low->high like the reference's
    rank-ordered indexing loop.

    Distribution: the level loop is driver-side (admin levels are bounded,
    ~12 values — the only collect is the tiny distinct-level list), but the
    finalized-boundary geometries stay executor-side as localCheckpointed
    DataFrames — nothing geometry-sized ever reaches the driver, so the
    loop survives a planet's ~400k admin polygons."""
    boundaries = placex.filter(
        F.array_contains("categories", "osm.boundary.administrative")
        & (F.col("osm_type") == "R")
        & (F.col("rank_address") > 0)
    ).persist()
    others = placex.join(boundaries.select("place_id"), "place_id", "left_anti")

    levels = sorted(
        r.admin_level
        for r in boundaries.select("admin_level").distinct().collect()
        if r.admin_level is not None
    )
    finalized: list[DataFrame] = []  # place_id, admin_level, rank_address, geometry
    adjusted = []
    for lvl in levels:
        cur = boundaries.filter(F.col("admin_level") == lvl)
        if finalized:
            parents = finalized[0]
            for f_ in finalized[1:]:
                parents = parents.unionByName(f_)
            parents = parents.filter(
                (F.col("admin_level") > 3)
                & F.col("rank_address").between(1, 25)
            ).select(
                F.col("place_id").alias("par_id"),
                F.col("admin_level").alias("par_adm"),
                F.col("rank_address").alias("par_addr"),
                F.col("wikidata").alias("par_wikidata"),
                F.col("minx").alias("par_minx"),
                F.col("miny").alias("par_miny"),
                F.col("maxx").alias("par_maxx"),
                F.col("maxy").alias("par_maxy"),
                "geometry",
            )
            hit = point_in_polygon_join_dist(
                cur.select("place_id", "lon", "lat"),
                parents,
                poly_key="par_id",
                carry=("par_adm", "par_addr", "par_wikidata",
                       "par_minx", "par_miny", "par_maxx", "par_maxy"),
            )
            w = Window.partitionBy("place_id").orderBy(F.col("par_adm").desc())
            best_parent = (
                hit.withColumn("_rn", F.row_number().over(w))
                .filter("_rn = 1")
                .select("place_id", "par_addr", "par_wikidata",
                        "par_minx", "par_miny", "par_maxx", "par_maxy")
            )
            cur = cur.join(best_parent, "place_id", "left")
        else:
            cur = (
                cur.withColumn("par_addr", F.lit(None).cast("int"))
                .withColumn("par_wikidata", F.lit(None).cast("string"))
                .withColumn("par_minx", F.lit(None).cast("double"))
                .withColumn("par_miny", F.lit(None).cast("double"))
                .withColumn("par_maxx", F.lit(None).cast("double"))
                .withColumn("par_maxy", F.lit(None).cast("double"))
            )
        # duplicate-boundary demotion (placex_triggers.sql:888-903): a
        # boundary replicating its containing parent's wikidata AND
        # geometry is the same object at another admin level — drop it
        # from addresses.  ST_Equals is proxied by bbox equality (two
        # distinct boundaries legitimately sharing a wikidata tag at
        # different admin levels keep their address ranks)
        _eps = 1e-9
        same_geom = (
            (F.abs(F.col("minx") - F.col("par_minx")) < _eps)
            & (F.abs(F.col("miny") - F.col("par_miny")) < _eps)
            & (F.abs(F.col("maxx") - F.col("par_maxx")) < _eps)
            & (F.abs(F.col("maxy") - F.col("par_maxy")) < _eps)
        )
        cur = cur.withColumn(
            "rank_address",
            F.when(
                F.col("par_wikidata").isNotNull()
                & (F.col("extratags").getItem("wikidata")
                   == F.col("par_wikidata"))
                & same_geom,
                F.lit(0),
            ).otherwise(F.col("rank_address")),
        ).drop("par_wikidata", "par_minx", "par_miny", "par_maxx", "par_maxy")
        # overtake rule (placex_triggers.sql:905-911)
        cur = cur.withColumn(
            "parent_address_level", F.coalesce(F.col("par_addr"), F.lit(3))
        ).withColumn(
            "rank_address",
            F.when(
                (F.col("rank_address") > 0)  # demoted duplicates stay 0
                & F.col("par_addr").isNotNull()
                & (F.col("par_addr") >= F.col("rank_address")),
                F.when(F.col("par_addr") >= 24, 25).otherwise(F.col("par_addr") + 2),
            ).otherwise(F.col("rank_address")),
        ).drop("par_addr")
        # place-category override (placex_triggers.sql:1163-1177)
        cur = cur.withColumn(
            # get() (not [0]): boundaries without a place category yield an
            # empty array, which ANSI mode would reject as invalid index
            "_bnd_place_cat",
            F.expr("get(filter(categories, c -> c LIKE 'osm.place.%'), 0)"),
        ).withColumn(
            "_place_addr", F.expr(_place_cat_addr_rank())
        ).withColumn(
            "rank_address",
            F.when(
                F.col("rank_address").between(4, 25)
                & F.col("_place_addr").isNotNull()
                & (F.col("_place_addr") > F.col("parent_address_level"))
                & (F.col("_place_addr") < 26),
                F.col("_place_addr"),
            ).otherwise(F.col("rank_address")),
        ).drop("_bnd_place_cat", "_place_addr")
        # localCheckpoint truncates the per-level lineage (12 stacked
        # union+PiP plans would make Catalyst planning superlinear) and
        # keeps the finalized geometries executor-side
        cur = cur.localCheckpoint()
        adjusted.append(cur)
        finalized.append(
            cur.select(
                "place_id", "admin_level", "rank_address",
                F.col("extratags").getItem("wikidata").alias("wikidata"),
                "minx", "miny", "maxx", "maxy",
                "geometry",
            )
        )

    out = others.withColumn("parent_address_level", F.lit(3))
    for a in adjusted:
        out = out.unionByName(a)

    # place-node subpart bump (placex_triggers.sql:955-974): a place node
    # inside a boundary of the same address rank becomes a subpart (+2)
    if finalized:
        bnd = finalized[0]
        for f_ in finalized[1:]:
            bnd = bnd.unionByName(f_)
        bnd = bnd.select(
            F.col("place_id").alias("b_id"),
            F.col("rank_address").alias("b_addr"),
            "geometry",
        )
        nodes = out.filter(
            (F.col("osm_type") == "N")
            & F.exists("categories", lambda c: c.startswith("osm.place"))
            & F.col("rank_address").between(16, 23)
        )
        hit = point_in_polygon_join_dist(
            nodes.select("place_id", "lon", "lat", "rank_address"),
            bnd,
            poly_key="b_id",
            carry=("b_addr",),
        )
        bumped = (
            hit.filter(F.col("b_addr") == F.col("rank_address"))
            .select("place_id")
            .distinct()
            .withColumn("_bump", F.lit(2))
        )
        out = out.join(bumped, "place_id", "left").withColumn(
            "rank_address",
            F.col("rank_address") + F.coalesce(F.col("_bump"), F.lit(0)),
        ).drop("_bump")
    return out


# --------------------------------------------------------------- stage D

def _as_spark_df(spark, df, schema_hint=None):
    """Accept a Spark DataFrame as-is; lift a pandas frame (test/CLI
    convenience shim) into Spark.  Relation-membership tables are
    planet-scale (~1e6+ rows) — production callers pass Spark DataFrames
    so nothing unbounded ever materializes on the driver."""
    if df is None or isinstance(df, DataFrame):
        return df
    if len(df) == 0:
        return None
    return spark.createDataFrame(df, schema=schema_hint)


def assign_parents(placex: DataFrame,
                   assoc_members=None,
                   way_nodes: DataFrame | None = None,
                   points: DataFrame | None = None) -> DataFrame:
    """parent_place_id (placex_triggers.sql find_parent_for_poi :191-268 +
    addressable-area parenting).

    ``points``: optional (place_id) subset to (re-)parent — the
    incremental-update path passes the dirty set here so every lane's
    POINT side is diff-sized while the CONTEXT sides (areas, streets,
    named places, memberships) stay the full universe; cost then scales
    with the diff times local density, never with the standing index.
    Returns only the ``points`` rows when given (the full frame
    otherwise).

    * lane 0: associatedStreet relation members — a house member parents to
      the relation's street member (placex_triggers.sql:119-182); takes
      precedence over the tag lanes
    * areas & nodes rank<=25: deepest containing area with smaller
      rank_address
    * streets (26-27): deepest containing area rank_address 1..25
    * POIs/houses (28-30) with addr:street: nearest street whose normalized
      name matches, searched via street-cover-cell equi-join (the reference's
      0.015-degree box, partition-functions.sql:150-178); addr:place variant
      against named places
    * POI nodes that are members of a street way parent to that way
      (J11, find_parent_for_poi :213-231) when no tag lane matched
    * remaining POIs: nearest road by point-to-segment distance

    ``assoc_members``: (relation_id, member_type, member_id, role) rows —
    a Spark DataFrame (pandas accepted as a test shim, see _as_spark_df).
    ``way_nodes``: (way_id, nodes array<long>) membership rows.
    """
    from nominatim_spark.functions.text import norm_translit

    spark = placex.sparkSession
    pts = (placex if points is None
           else placex.join(points.select("place_id"), "place_id",
                            "left_semi"))
    assoc_members = _as_spark_df(spark, assoc_members)

    # --- lane 0: associatedStreet relations (J10).  Resolved as a
    # relation-keyed equi-join — the membership table stays distributed
    # (a planet has ~1e6 associatedStreet relations).
    if assoc_members is not None:
        mem = assoc_members.withColumn(
            "member_pid",
            F.col("member_id") * 4
            + F.when(F.col("member_type") == "N", 0)
            .when(F.col("member_type") == "W", 1)
            .otherwise(2),
        )
        rel_street = (
            mem.filter(F.col("role") == "street")
            .groupBy("relation_id")
            .agg(F.min("member_pid").alias("parent_place_id"))
        )
        assoc_parent = (
            mem.filter(F.col("role") != "street")
            .join(rel_street, "relation_id")
            .select(F.col("member_pid").alias("place_id"), "parent_place_id")
            .join(pts.select("place_id"), "place_id", "left_semi")
        )
    else:
        assoc_parent = spark.createDataFrame(
            pd.DataFrame(columns=["place_id", "parent_place_id"]),
            "place_id long, parent_place_id long",
        )

    # --- containing-area lanes: ONE distributed PiP join over all of
    # placex serves both the rank<=27 parenting and the POI fallback
    # (the round-1 version collected every rank-1..25 polygon to the
    # driver — fine at sf0.1, OOM at a planet's ~1e7 areas)
    areas = placex.filter(
        (F.col("extended_type") == "A") & F.col("rank_address").between(1, 25)
    ).select(
        F.col("place_id").alias("a_id"),
        F.col("rank_address").alias("a_addr"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).alias("a_area"),
        "geometry",
    )
    area_hits = point_in_polygon_join_dist(
        pts.select("place_id", "lon", "lat", "rank_address", "rank_search"),
        areas,
        poly_key="a_id",
        carry=("a_addr", "a_area"),
    ).filter(F.col("a_id") != F.col("place_id")).persist()

    w = Window.partitionBy("place_id").orderBy(
        F.col("a_addr").desc(), F.col("a_area").asc(), F.col("a_id")
    )
    low_parent = (
        area_hits.filter(F.col("rank_search") <= 27)
        .filter(F.col("a_addr") < F.coalesce(F.col("rank_address"), F.lit(26)))
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("place_id", F.col("a_id").alias("parent_place_id"))
    )

    # --- POI/house -> street by addr:street name (J9 token_matches_street):
    # street cover cells generated JVM-side from the bbox columns (sequence
    # + explode — no geometry leaves the executors), padded by the
    # reference's 0.015-degree search box
    # (partition-functions.sql:150-178 token_matches_street window)
    pad = max(0.015, grid.cell_size_deg(CELL_RES))

    @F.pandas_udf("string")
    def norm_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: norm_translit(v) if isinstance(v, str) else "")

    streets = placex.filter(F.col("rank_search").between(26, 27)).select(
        F.col("place_id").alias("street_id"),
        norm_udf(F.col("name").getItem("name")).alias("street_key"),
        "minx", "miny", "maxx", "maxy", "geometry",
    ).filter(F.col("street_key").isNotNull() & (F.col("street_key") != ""))
    street_cells = explode_bbox_cells(
        streets.select("street_id", "street_key",
                       "minx", "miny", "maxx", "maxy"),
        res=CELL_RES, pad=pad,
    ).select("street_id", "street_key", "cell")

    pois = pts.filter(
        (F.col("rank_search") >= 28)
        & F.col("address").getItem("street").isNotNull()
    ).select("place_id", "lon", "lat", "cell", F.col("address").getItem("street").alias("_street"))

    pois = pois.withColumn("street_key", norm_udf("_street"))
    cand = pois.join(street_cells, ["cell", "street_key"])

    # exact distance to the street geometry, joined by key (one parse per
    # distinct street per batch — no driver-built geometry dict)
    cand = cand.join(
        streets.select("street_id", F.col("geometry").alias("_swkb")),
        "street_id",
    )

    def dist_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pdf.assign(dist=pd.Series(dtype=float)).drop(columns=["_swkb"])
                continue
            d = np.empty(len(pdf))
            px = pdf["lon"].to_numpy(dtype=float)
            py = pdf["lat"].to_numpy(dtype=float)
            for _sid, idx in pdf.groupby("street_id").indices.items():
                coords = wkb.parse_wkb(bytes(pdf["_swkb"].iloc[idx[0]])).parts[0]
                for i in idx:
                    f = ops.line_locate_point(coords, px[i], py[i])
                    qx, qy = ops.line_interpolate_point(coords, f)
                    d[i] = float(np.hypot(qx - px[i], qy - py[i]))
            yield pdf.assign(dist=d).drop(columns=["_swkb"])

    cand_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in cand.schema if f.name != "_swkb"
    )
    with_dist = cand.mapInPandas(dist_batch, schema=cand_schema + ", dist double")
    w2 = Window.partitionBy("place_id").orderBy("dist", "street_id")
    poi_parent = (
        with_dist.withColumn("_rn", F.row_number().over(w2))
        .filter("_rn = 1")
        .select("place_id", F.col("street_id").alias("parent_place_id"))
    )

    # --- addr:place lane (token_matches_place within 0.04 deg,
    # partition-functions.sql:181-207): POIs naming a place instead of a
    # street parent to the nearest same-named place node/area; the place
    # side's 0.04-degree disks become cover cells JVM-side
    place_cells = explode_bbox_cells(
        placex.filter(
            F.col("rank_address").between(16, 25)
            & F.col("name").getItem("name").isNotNull()
        ).select(
            F.col("place_id").alias("pl_id"),
            norm_udf(F.col("name").getItem("name")).alias("pl_key"),
            F.col("lon").alias("pl_lon"),
            F.col("lat").alias("pl_lat"),
        ).filter(F.col("pl_key").isNotNull() & (F.col("pl_key") != "")),
        res=CELL_RES, pad=0.04,
        minx="pl_lon", miny="pl_lat", maxx="pl_lon", maxy="pl_lat",
    )
    pois_pl = pts.filter(
        (F.col("rank_search") >= 28)
        & F.col("address").getItem("place").isNotNull()
        # addr:street wins over addr:place (find_parent_for_poi order)
        & F.col("address").getItem("street").isNull()
    ).select("place_id", "lon", "lat", "cell",
             F.col("address").getItem("place").alias("_pl"))
    pois_pl = pois_pl.withColumn("pl_key", norm_udf("_pl"))
    pl_cand = pois_pl.join(place_cells, ["cell", "pl_key"])
    pl_cand = pl_cand.withColumn(
        "dist2",
        (F.col("lon") - F.col("pl_lon")) * (F.col("lon") - F.col("pl_lon"))
        + (F.col("lat") - F.col("pl_lat")) * (F.col("lat") - F.col("pl_lat")),
    )
    w3 = Window.partitionBy("place_id").orderBy("dist2", "pl_id")
    place_parent = (
        pl_cand.withColumn("_rn", F.row_number().over(w3))
        .filter("_rn = 1")
        .select("place_id", F.col("pl_id").alias("parent_place_id"))
    )

    # --- lane J11: a POI node that is a member of a street way parents to
    # that way (find_parent_for_poi :213-231 "Way IS a road then we are on
    # it") — ranked below the tag lanes, above the area fallback
    if way_nodes is not None:
        streets_only = placex.filter(
            F.col("rank_search").between(26, 27)
        ).select((F.col("place_id")).alias("parent_place_id"))
        poi_nodes = pts.filter(
            (F.col("rank_search") >= 28) & (F.col("osm_type") == "N")
        ).select("place_id")
        member_parent = (
            way_nodes.select(
                (F.col("way_id") * 4 + 1).alias("parent_place_id"),
                F.explode("nodes").alias("_node_osm"),
            )
            .withColumn("place_id", F.col("_node_osm") * 4)
            .join(poi_nodes, "place_id", "left_semi")
            .join(streets_only, "parent_place_id", "left_semi")
            .groupBy("place_id")
            .agg(F.min("parent_place_id").alias("parent_place_id"))
        )
        member_parent = (
            member_parent
            .join(assoc_parent.select("place_id"), "place_id", "left_anti")
            .join(poi_parent.select("place_id"), "place_id", "left_anti")
            .join(place_parent.select("place_id"), "place_id", "left_anti")
        )
    else:
        member_parent = spark.createDataFrame(
            pd.DataFrame(columns=["place_id", "parent_place_id"]),
            "place_id long, parent_place_id long",
        )

    # POIs without street/place tag — or whose matches found nothing —
    # fall back to the containing area (find_parent_for_poi last resort)
    matched_so_far = (
        poi_parent.select("place_id")
        .unionByName(place_parent.select("place_id"))
        .unionByName(assoc_parent.select("place_id"))
        .unionByName(member_parent.select("place_id"))
    )
    rest_parent = (
        area_hits.filter(F.col("rank_search") >= 28)
        .join(matched_so_far, "place_id", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("place_id", F.col("a_id").alias("parent_place_id"))
    )

    # lane-0 wins: drop tag-lane matches for relation-parented places
    # (the reference gives the relation absolute precedence,
    # placex_triggers.sql find_parent_for_poi)
    poi_parent = poi_parent.join(
        assoc_parent.select("place_id"), "place_id", "left_anti"
    )
    place_parent = place_parent.join(
        assoc_parent.select("place_id"), "place_id", "left_anti"
    )
    low_parent = low_parent.join(
        assoc_parent.select("place_id"), "place_id", "left_anti"
    )
    parents = (
        assoc_parent.unionByName(low_parent)
        .unionByName(poi_parent)
        .unionByName(place_parent)
        .unionByName(member_parent)
        .unionByName(rest_parent)
    )
    # one parent per place (street / place / fallback lanes are disjoint
    # by construction)
    return pts.join(parents, "place_id", "left")


# ------------------------------------------------------------ orchestration

@dataclass
class IndexTables:
    placex: DataFrame
    search_name: DataFrame
    word: DataFrame
    name_postings: DataFrame
    addr_postings: DataFrame
    # linked label nodes (place_id, osm_type, osm_id, linked_place_id) —
    # excluded from the searchable placex but kept here so incremental
    # updates can detect a touch on a linked node by IDENTITY even when
    # the diff renames both the name and the wikidata tag (the reference
    # keeps these as placex rows with linked_place_id set)
    linked: DataFrame | None = None


def _linked_slice(px: DataFrame) -> DataFrame | None:
    if "linked_place_id" not in px.columns:
        return None
    return px.filter(F.col("linked_place_id").isNotNull()).select(
        "place_id", "osm_type", "osm_id", "linked_place_id")


def build_placex(place: DataFrame, ckpt_root: str | None = None,
                 resume: bool = False,
                 assoc_members=None,
                 label_members=None,
                 way_nodes: DataFrame | None = None) -> DataFrame:
    """place -> fully ranked & parented placex, checkpointed per stage.

    Each stage materializes to parquet with a lineage manifest
    (io.checkpoint) — this both makes the build resumable (``resume=True``
    skips completed stages, the reference's indexed_status analog) and
    truncates the Catalyst plan: without truncation the stacked
    union/window/UDF lineage makes downstream *planning* superlinear.
    """
    import tempfile

    from nominatim_spark.io.checkpoint import (
        checkpoint, has_checkpoint, load_checkpoint)

    spark = place.sparkSession
    if ckpt_root is None:
        ckpt_root = tempfile.mkdtemp(prefix="nominatim_spark_ckpt_")

    def stage(name, fn, inputs):
        if resume and has_checkpoint(ckpt_root, name):
            return load_checkpoint(spark, ckpt_root, name)
        return checkpoint(fn(), ckpt_root, name, inputs=inputs)

    df = stage("placex_base", lambda: assign_country(base_attributes(place)),
               ["place"])
    df2 = stage(
        "placex_ranked",
        lambda: df.join(compute_place_rank(df), "place_id"),
        ["placex_base"],
    )
    df3 = stage("placex_adjusted", lambda: adjust_ranks(df2), ["placex_ranked"])
    df4 = stage("placex_parented", lambda: assign_parents(
        df3, assoc_members=assoc_members, way_nodes=way_nodes
    ).withColumn(
        # default importance (importance.sql:146-206 fallback formula)
        "importance", F.lit(0.40001) - F.col("rank_search") / F.lit(75.0)
    ), ["placex_adjusted"])

    def _linked():
        from nominatim_spark.pipeline.linking import link_places

        lm = _as_spark_df(spark, label_members)
        out = link_places(spark, df4, label_members=lm)
        # boundary centroids may have moved to their label node: refresh
        # the locality cell key
        return out.withColumn("cell", F.expr(grid.encode_sql("lon", "lat", CELL_RES)))

    df5 = stage("placex", _linked, ["placex_parented"])
    return df5


def build_index(spark, place: DataFrame, ckpt_root: str | None = None,
                resume: bool = False,
                assoc_members=None,
                label_members=None,
                way_nodes: DataFrame | None = None) -> IndexTables:
    import tempfile

    from nominatim_spark.io.checkpoint import (
        checkpoint, has_checkpoint, load_checkpoint)
    from nominatim_spark.pipeline.tokens import build_search_tables

    if ckpt_root is None:
        ckpt_root = tempfile.mkdtemp(prefix="nominatim_spark_ckpt_")
    placex = build_placex(place, ckpt_root, resume=resume,
                          assoc_members=assoc_members,
                          label_members=label_members,
                          way_nodes=way_nodes)
    stages = ("word", "name_postings", "addr_postings", "search_name")
    if resume and all(has_checkpoint(ckpt_root, s) for s in stages):
        # full resume: the search tables load straight from parquet; the
        # returned placex re-applies the (lazy, row-local) tokenize pass
        # so its shape matches the build path exactly
        from nominatim_spark.pipeline.tokens import tokenize_places

        word, name_post, addr_post, search_name = (
            load_checkpoint(spark, ckpt_root, s) for s in stages)
        px = placex
        if "linked_place_id" in px.columns:
            px = px.filter(F.col("linked_place_id").isNull())
        return IndexTables(
            placex=tokenize_places(px), search_name=search_name, word=word,
            name_postings=name_post, addr_postings=addr_post,
            linked=_linked_slice(placex),
        )
    idx = build_search_tables(spark, placex)
    word = checkpoint(idx.word, ckpt_root, "word", inputs=["placex"])
    name_post = checkpoint(idx.name_postings, ckpt_root, "name_postings",
                           inputs=["placex", "word"])
    addr_post = checkpoint(idx.addr_postings, ckpt_root, "addr_postings",
                           inputs=["placex", "word"])
    search_name = checkpoint(idx.search_name, ckpt_root, "search_name",
                             inputs=["placex", "word"])
    return IndexTables(
        placex=idx.placex,
        search_name=search_name,
        word=word,
        name_postings=name_post,
        addr_postings=addr_post,
        linked=idx.linked,
    )


def load_index(spark, ckpt_root: str) -> IndexTables:
    """Load a complete index purely from its checkpoint root — the resume
    path for post-import CLI/API commands on a non-synthetic import (no
    source ``place`` frame needed)."""
    from nominatim_spark.io.checkpoint import has_checkpoint, load_checkpoint

    stages = ("placex", "word", "name_postings", "addr_postings",
              "search_name")
    missing = [s for s in stages if not has_checkpoint(ckpt_root, s)]
    if missing:
        raise FileNotFoundError(
            f"index checkpoint root {ckpt_root!r} is incomplete: "
            f"missing stages {missing}")
    from nominatim_spark.pipeline.tokens import tokenize_places

    px, word, name_post, addr_post, search_name = (
        load_checkpoint(spark, ckpt_root, s) for s in stages)
    linked = _linked_slice(px)
    if "linked_place_id" in px.columns:
        px = px.filter(F.col("linked_place_id").isNull())
    return IndexTables(placex=tokenize_places(px), search_name=search_name,
                       word=word, name_postings=name_post,
                       addr_postings=addr_post, linked=linked)
