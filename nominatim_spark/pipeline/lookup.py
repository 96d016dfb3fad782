"""Place lookup / details / status — the reference's /lookup, /details
and /status API endpoints (src/nominatim_api/lookup.py, status.py),
set-at-a-time.

The reference resolves each requested ref through a table cascade
(find_in_placex → find_in_osmline → find_in_postcode → find_in_tiger,
lookup.py:196-330); the batch engine runs the same cascade as three
left-joins over the WHOLE ref batch and coalesces the first hit — one
job for a million refs instead of a loop.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from nominatim_spark.pipeline.placex import IndexTables
from nominatim_spark.session import local_rows

_PLACEX_COLS = [
    "place_id", "osm_type", "osm_id", "class", "type", "rank_search",
    "rank_address", "importance", "country_code", "lon", "lat",
    "parent_place_id",
]


def _norm_refs(spark, refs) -> DataFrame:
    """Accept a DataFrame with (ref_id, place_id | osm_type+osm_id) or a
    list of 'N123'/'W45'/'R6'-style strings (the API's PlaceRef forms)."""
    if isinstance(refs, DataFrame):
        out = refs
        if "place_id" not in out.columns:
            out = out.withColumn("place_id", F.lit(None).cast("long"))
        if "osm_type" not in out.columns:
            out = out.withColumn("osm_type", F.lit(None).cast("string"))
        if "osm_id" not in out.columns:
            out = out.withColumn("osm_id", F.lit(None).cast("long"))
        return out.select("ref_id", "place_id", "osm_type", "osm_id")
    rows = []
    for r in refs:
        if isinstance(r, int) or (isinstance(r, str) and r.isdigit()):
            # numeric place id — the API's PlaceID ref (CLI argv always
            # delivers strings, so digit-only strings count too)
            rows.append((str(r), int(r), None, None))
        elif isinstance(r, str) and re.fullmatch(r"[NWRnwr]\d+", r):
            rows.append((r, None, r[0].upper(), int(r[1:])))
        else:
            raise ValueError(
                f"bad place ref {r!r}: expected a numeric place id or "
                "N/W/R-prefixed osm id (e.g. 'N123')")
    return local_rows(
        spark, rows,
        "ref_id string, place_id long, osm_type string, osm_id long")


def lookup_places(spark, idx: IndexTables, refs,
                  osmline: DataFrame | None = None,
                  postcodes: DataFrame | None = None,
                  tiger: DataFrame | None = None) -> DataFrame:
    """Resolve place refs (place_id or osm ref) to place rows — the
    /lookup endpoint (get_places, lookup.py:177-193).  Cascade:
    placex → interpolation lines → postcode rows → TIGER segments
    (find_in_tiger, lookup.py:353-378 — by place_id only, the parent
    street supplies the osm object); first hit wins, rows with no hit
    are absent from the result (the reference drops them the same
    way)."""
    r = _norm_refs(spark, refs)

    px = idx.placex
    if "linked_place_id" in px.columns:
        px = px.filter(F.col("linked_place_id").isNull())
    px = px.select(*[c for c in _PLACEX_COLS if c in px.columns])

    by_pid = r.filter(F.col("place_id").isNotNull()).select(
        "ref_id", "place_id"
    ).join(px, "place_id")
    by_osm = r.filter(
        F.col("place_id").isNull() & F.col("osm_type").isNotNull()
    ).select("ref_id", "osm_type", "osm_id").join(px, ["osm_type", "osm_id"])
    hits = by_pid.unionByName(by_osm, allowMissingColumns=True)

    if osmline is not None:
        missing = r.join(hits.select("ref_id"), "ref_id", "left_anti")
        line_hits = (
            missing.filter(F.col("osm_type") == "W")
            .select("ref_id", F.col("osm_id").alias("_oid"))
            .join(osmline.select(
                F.col("osmline_id").alias("place_id"),
                F.col("way_id").alias("_oid"),
                F.col("mid_lon").alias("lon"), F.col("mid_lat").alias("lat"),
                "parent_place_id",
            ), "_oid")
            .withColumn("osm_type", F.lit("W"))
            .withColumn("osm_id", F.col("_oid"))
            .withColumn("class", F.lit("place"))
            .withColumn("type", F.lit("houses"))
            .withColumn("rank_search", F.lit(30))
            .withColumn("rank_address", F.lit(30))
            .drop("_oid")
        )
        # one row per ref: an interpolation way has many segments — keep
        # the lowest segment id (the reference's single-row collector)
        cols = [c for c in line_hits.columns if c != "ref_id"]
        line_hits = line_hits.groupBy("ref_id").agg(
            F.expr("min_by(struct(" + ", ".join(cols) + "), place_id)")
            .alias("_b")
        ).select("ref_id", "_b.*")
        hits = hits.unionByName(line_hits, allowMissingColumns=True)

    if tiger is not None:
        missing = r.join(hits.select("ref_id"), "ref_id", "left_anti")
        street_osm = px.select(
            F.col("place_id").alias("parent_place_id"),
            F.col("osm_type").alias("_p_ot"),
            F.col("osm_id").alias("_p_oi"),
        )
        tiger_hits = (
            missing.filter(F.col("place_id").isNotNull())
            .select("ref_id", "place_id")
            .join(tiger.select(
                F.col("osmline_id").alias("place_id"),
                F.col("mid_lon").alias("lon"),
                F.col("mid_lat").alias("lat"),
                "parent_place_id",
            ), "place_id")
            .join(street_osm, "parent_place_id", "left")
            .withColumn("osm_type", F.col("_p_ot"))
            .withColumn("osm_id", F.col("_p_oi"))
            .withColumn("class", F.lit("place"))
            .withColumn("type", F.lit("houses"))
            .withColumn("rank_search", F.lit(30))
            .withColumn("rank_address", F.lit(30))
            .withColumn("country_code", F.lit("us"))
            .drop("_p_ot", "_p_oi")
        )
        hits = hits.unionByName(tiger_hits, allowMissingColumns=True)
    return hits


def place_details(spark, idx: IndexTables, refs,
                  addressline: DataFrame | None = None,
                  locales=None, **kw) -> DataFrame:
    """Place rows plus the ordered display-address chain — the /details
    endpoint (get_detailed_place + add_result_details,
    lookup.py:155-174, results.py:570-671).  ``locales`` localizes every
    display part per the caller's accept-language priority (the
    reference's ``localize_results``)."""
    from nominatim_spark.pipeline.addressline import (
        address_details, build_place_addressline)

    hits = lookup_places(spark, idx, refs, **kw)
    if addressline is None:
        addressline = build_place_addressline(spark, idx.placex)
    chain = address_details(idx.placex, addressline, locales=locales)
    return hits.join(chain, "place_id", "left")


def status(spark, idx: IndexTables | None = None) -> dict:
    """Engine status — the /status endpoint (status.py:21-56): version
    plus index shape counts (the reference reports DB + data timestamp)."""
    from nominatim_spark import __version__

    out = {"status": 0, "message": "OK",
           "software_version": __version__,
           "spark_version": spark.version}
    if idx is not None:
        out["places"] = idx.placex.count()
        out["searchable"] = idx.search_name.count()
        out["words"] = idx.word.count()
    return out
