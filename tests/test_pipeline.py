"""End-to-end pipeline tests: index build semantics, forward geocode
accuracy against ground truth, reverse geocode, interpolation.

Scenario shapes mirror the reference's db/import BDD features
(/root/reference/test/bdd/features/db/import/{rank_computation,parenting,
interpolation}.feature) and the api search/reverse tests.
"""

import time

import pytest
from pyspark.sql import functions as F

from nominatim_spark.pipeline.extract import extract_pages
from nominatim_spark.pipeline.search import geocode
from nominatim_spark.pipeline.reverse import reverse_geocode
from nominatim_spark.plans.flagship import build_synth_index
from nominatim_spark.sources import synth

SCALE = dict(n_cities=4, n_streets=4, n_houses=4, n_pois=2)


@pytest.fixture(scope="session")
def index(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    idx, osmline = build_synth_index(spark, ckpt_root=ckpt, **SCALE)
    idx.placex.persist().count()
    idx.search_name.persist().count()
    osmline.persist().count()
    return idx, osmline


def test_rank_assignment(index):
    idx, _ = index
    got = {
        r.osm_id: (r.rank_search, r.rank_address)
        for r in idx.placex.select("osm_id", "rank_search", "rank_address").collect()
    }
    assert got[1] == (4, 4)            # country
    assert got[10] == (8, 8)           # state
    assert got[100] == (15, 16)        # capital city (search boost)
    assert got[101] == (16, 16)        # city
    assert got[1000] == (19, 20)       # suburb node
    assert got[2000] == (19, 16)       # village node
    assert got[10000] == (26, 26)      # residential street
    assert got[100000] == (30, 30)     # POI
    assert got[1000000 * 1 + 10000 * 100] == (30, 30)  # house


def test_country_assignment(index):
    idx, _ = index
    ccs = idx.placex.groupBy("country_code").count().collect()
    by_cc = {r.country_code: r["count"] for r in ccs}
    assert by_cc.get("cv", 0) > 100  # everything inside the country polygon


def test_parenting(index):
    idx, _ = index
    px = idx.placex
    # houses parent to their addr:street (find_parent_for_poi step 2)
    house = px.filter("osm_id = 2000000").head()  # house 0 of street 10000
    assert house.parent_place_id == 10000 * 4 + 1  # street way place_id
    # POIs parent to their tagged street
    poi = px.filter("osm_id = 100000").head()
    assert poi.parent_place_id == 10000 * 4 + 1  # street 0 of city 0
    # streets parent to their city area
    street = px.filter("osm_id = 10000").head()
    assert street.parent_place_id == 100 * 4 + 2  # city 0 relation
    # cities parent to their state
    city = px.filter("osm_id = 100").head()
    assert city.parent_place_id == 10 * 4 + 2  # Westmark


def test_search_vectors_include_ancestors(index):
    idx, _ = index
    sn = idx.search_name
    word = {r.word_id: r.word_token for r in idx.word.collect()}
    poi = sn.filter("osm_id = 100000").head()
    name_words = {word[i] for i in poi.name_vector}
    addr_words = {word[i] for i in poi.nameaddress_vector}
    assert "cafe" in name_words
    assert "corvania" in addr_words  # country ancestor
    assert "vels" in addr_words      # city ancestor
    assert "birch" in addr_words     # parent street


def test_forward_geocode_accuracy(spark, index):
    idx, osmline = index
    n_pages = 400
    pages = synth.pages_df(spark, n_pages=n_pages, **SCALE)
    mentions = (
        extract_pages(pages)
        .filter(F.col("mention").isNotNull())
        .withColumn("query_id", F.col("url"))
        .select("query_id", F.col("mention").alias("qtext"))
    )
    res = geocode(spark, idx, mentions, osmline=osmline)
    got = {
        r.query_id: (r.osm_type, r.osm_id)
        for r in res.select("query_id", "osm_type", "osm_id").collect()
    }
    wrong = []
    for p in range(n_pages):
        url = [u for u in got if u.endswith(f"/{p}") ]
        exp = synth.expected_target(p, **SCALE)
        key = next((u for u in got if u.split("/")[-1] == str(p)), None)
        if got.get(key) != exp:
            wrong.append((p, got.get(key), exp))
    assert not wrong, f"{len(wrong)} wrong, first: {wrong[:5]}"


def test_interpolation_lookup(spark, index):
    idx, osmline = index
    # hnr 23 is inside the odd interpolation 21..39 on street 0 of city 0
    # but is not an exact house (houses are 1..7)
    q = spark.createDataFrame(
        [("q1", f"{synth.street_name(0, 0)} 23, {synth.city_name(0)}"),
         ("q2", f"{synth.street_name(0, 0)} 24, {synth.city_name(0)}"),
         ("q3", f"{synth.street_name(0, 0)} 5, {synth.city_name(0)}")],
        "query_id string, qtext string",
    )
    res = {r.query_id: r for r in geocode(spark, idx, q, osmline=osmline).collect()}
    assert res["q1"].type == "houses"          # interpolated
    assert res["q1"].housenumber == "23"
    assert res["q2"].penalty == 2              # even: street fallback
    assert res["q2"].osm_type == "W"
    assert res["q3"].osm_type == "N"           # exact house
    assert res["q3"].housenumber == "5"


def test_geocode_row_per_text_and_null_text(spark, index):
    """One row per matched (query_id, text) input row: a page with two
    mentions keeps both answers, and a NULL text yields no row."""
    idx, osmline = index
    q = spark.createDataFrame(
        [("page", f"{synth.street_name(0, 0)} 5, {synth.city_name(0)}"),
         ("page", f"{synth.poi_name(0, 0)}, {synth.city_name(0)}"),
         ("blank", None)],
        "query_id string, qtext string",
    )
    rows = geocode(spark, idx, q, osmline=osmline).collect()
    assert sorted((r.query_id, r.osm_type, r.osm_id) for r in rows) == [
        ("page", "N", 100000), ("page", "N", 2000002)]


def _answers(rows):
    return {r.query_id: (r.osm_type, r.osm_id, r["class"], r.housenumber,
                         round(r.penalty, 6)) for r in rows}


def test_geocode_mixed_lane_flags_match_single_texts(spark, index):
    """One batch whose texts each need a different conditional lane
    (postcode plus name, category near, qualifier, split direction)
    answers every text as geocoding it alone does: the lane flags the
    parse reports are merged over all its tasks, so no lane is skipped.
    Each text's answer depends on its lane."""
    from nominatim_spark.pipeline.postcodes import build_postcodes

    idx, osmline = index
    street, city = synth.street_name(0, 0), synth.city_name(0)
    texts = {
        "pc_name": f"{street}, 47001",
        "near": f"restaurant near {street}, {city}",
        "qual": f"restaurant {city}",
        "split": f"{city} {synth.street_name(0, 1)}",
        "plain": f"{street} 5, {city}",
    }
    # street 1 of city 0 excluded: the split text then resolves through
    # its forward reading (a cafe on that street), which the direction
    # penalty charges
    kw = dict(osmline=osmline, postcodes=build_postcodes(spark, idx.placex),
              near_radius_deg=0.1, excluded_place_ids=[10001 * 4 + 1])

    def run(items):
        q = spark.createDataFrame(items, "query_id string, qtext string")
        return _answers(geocode(spark, idx, q, **kw).collect())

    alone = {}
    for k, t in texts.items():
        alone.update(run([(k, t)]))
    assert set(alone) == set(texts)
    # another city's postcode and no address terms: a flat 1.0
    assert alone["pc_name"][:2] == ("W", 10000)
    assert alone["pc_name"][-1] == 1.0
    assert alone["near"][:2] == ("N", 100001)   # not the anchor street
    assert alone["qual"][2] == "amenity"        # not the city
    assert alone["split"][:2] == ("N", 100001)
    assert alone["split"][-1] > 0.3 + 1e-6      # split 0.1 + name rank 0.2
    assert run(list(texts.items())) == alone


def test_geocode_job_count_and_single_input_read(spark, index):
    """A single-text search runs at most 15 Spark jobs, and reads a
    Python-backed input once (the parse job is its only reader)."""
    from pyspark.sql.types import StringType

    idx, _ = index
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def count_read(text):
        reads.add(1)
        return text

    counted = F.udf(count_read, StringType()).asNondeterministic()
    q = spark.createDataFrame(
        [("q0", f"{synth.street_name(0, 0)} 5, {synth.city_name(0)}")],
        "query_id string, qtext string",
    ).withColumn("qtext", counted("qtext"))
    geocode(spark, idx, q.limit(1)).collect()  # warm the index-side memos
    reads.value = 0
    sc.setJobGroup("geocode_one", "geocode_one")
    try:
        rows = geocode(spark, idx, q).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [(r.osm_type, r.osm_id) for r in rows] == [("N", 2000002)]
    assert reads.value == 1
    time.sleep(1.0)  # the status tracker is fed asynchronously
    jobs = len(sc.statusTracker().getJobIdsForGroup("geocode_one"))
    assert 0 < jobs <= 15, jobs


def test_geocode_duplicate_rows_keep_their_rows(spark, index):
    """Repeated (query_id, text) rows, within one Arrow batch and across
    partitions, each get their own output row, with the answer the text
    gets alone (penalty included: a text parsed in two batches must not
    count its tokens twice)."""
    idx, osmline = index
    a = f"{synth.street_name(0, 0)} 5, {synth.city_name(0)}"
    # a partial-name match, whose penalty depends on its token count
    b = f"{synth.poi_name(0, 0).split()[1]} {synth.city_name(0)}"

    def run(q):
        return sorted((r.query_id, r.osm_type, r.osm_id, round(r.penalty, 6))
                      for r in geocode(spark, idx, q, osmline=osmline)
                      .collect())

    schema = "query_id string, qtext string"
    want = {t: run(spark.createDataFrame([("_", t)], schema))[0][1:]
            for t in (a, b)}
    assert want[b][:2] == ("N", 100000)
    rows = [("x", a), ("x", a), ("y", a), ("z", b), ("x", a), ("z", b),
            ("w", b), ("x", a)]
    q = spark.createDataFrame(rows, schema)
    for src in (q, q.repartition(3)):
        assert run(src) == sorted((k, *want[t]) for k, t in rows)


def test_osmline_parity_normalization(index):
    _, osmline = index
    seg = osmline.filter("way_id = 5000000").head()
    assert (seg.startnumber, seg.endnumber, seg.step) == (21, 39, 2)
    assert seg.parent_place_id == 10000 * 4 + 1


def test_reverse_geocode(spark, index):
    idx, _ = index
    cx, cy = synth.city_center(1)
    pts = spark.createDataFrame(
        [
            ("on_street", cx - 0.05, cy - 0.1 + 0.0001),  # on street 0 of city 1
            ("city_center", cx, cy + 0.08),               # inside city, off streets
            ("rural", 10.9, 48.45),                       # country only
        ],
        "point_id string, lon double, lat double",
    )
    res = {r.point_id: r for r in reverse_geocode(spark, idx, pts).collect()}
    assert res["on_street"].tier == "street_poi"
    assert res["on_street"].rank_search >= 26
    assert res["city_center"].tier == "area"
    assert res["city_center"].osm_id == 101  # city 1 boundary
    assert res["rural"].tier == "area"
    assert res["rural"].osm_id in (1, 11)    # country or Ostmark state
    assert res["rural"].country_code == "cv"


def test_reverse_country_tier(spark, index):
    """Tier 3: a point inside the country but outside every rank-5..25 area
    falls through to the country polygon (reverse.py:520-605)."""
    import dataclasses

    idx, _ = index
    # strip states/cities so only the country polygon can contain the point
    thin = dataclasses.replace(
        idx,
        placex=idx.placex.filter(
            (F.col("rank_address") <= 4) | (F.col("rank_address") >= 26)
        ),
    )
    pts = spark.createDataFrame(
        [("rural", 10.9, 48.45), ("ocean", -30.0, 0.0)],
        "point_id string, lon double, lat double",
    )
    res = {r.point_id: r for r in reverse_geocode(spark, thin, pts).collect()}
    assert res["rural"].tier == "country"
    assert res["rural"].osm_id == 1
    assert res["ocean"].tier == "none"
    assert res["ocean"].place_id is None


def test_extraction_byte_identity(spark):
    pages = synth.pages_df(spark, n_pages=50, **SCALE)
    a = sorted(map(tuple, extract_pages(pages).collect()))
    b = sorted(map(tuple, extract_pages(pages.repartition(7)).collect()))
    assert a == b  # partition-order independent, deterministic per url


def test_addr_place_parenting(spark, index):
    # houses tagged addr:place parent to the named village node
    # (find_parent_for_poi place lane, partition-functions.sql:181-207)
    idx, _ = index
    house = idx.placex.filter("osm_id = 4000").head()
    assert house is not None
    assert house.parent_place_id == 2000 * 4 + 0  # village node place_id
    house2 = idx.placex.filter("osm_id = 4021").head()
    assert house2.parent_place_id == 2002 * 4 + 0


def test_associated_street_parenting(spark, index):
    # relation house members parent to the relation's street member
    # (lane 0, placex_triggers.sql:119-182) — these houses carry no
    # addr:street at all
    idx, osmline = index
    h = idx.placex.filter("osm_id = 7000000").head()
    assert h is not None
    assert h.parent_place_id == (10000 + 0 * 100 + 1) * 4 + 1  # street j=1, city 0
    # and they are searchable via the street + housenumber lane
    q = spark.createDataFrame(
        [("q1", f"{synth.street_name(0, 1)} 102, {synth.city_name(0)}")],
        "query_id string, qtext string",
    )
    res = geocode(spark, idx, q, osmline=osmline).collect()
    assert len(res) == 1 and res[0].osm_id == 7000001  # hnr 102 = house k=1


def test_suburb_node_qualifies_addresses(spark, index):
    """place_node_fuzzy_area (utils.sql:338-358): a suburb NODE within its
    rank radius contributes address tokens, so suburb-qualified queries
    resolve even though the suburb has no polygon."""
    idx, osmline = index
    # house 3 of street j=1, city 0 sits ~0.01 deg from suburb Northside
    # (suburb radius: rank 19 -> 2000 m ≈ 0.018 deg)
    q = spark.createDataFrame(
        [("s1", f"{synth.street_name(0, 1)} 3, Northside")],
        "query_id string, qtext string",
    )
    res = geocode(spark, idx, q, osmline=osmline).collect()
    assert len(res) == 1
    sid = 10000 + 0 * 100 + 1
    assert res[0].osm_id == 1000000 + sid * 100 + 1  # house k=1 (hnr 3)
    assert res[0].housenumber == "3"


def test_way_node_membership_parenting(spark, tmp_path_factory):
    """J11 (find_parent_for_poi:213-231): a tagless POI node that is a
    member of a street way parents to that way — and the membership lane
    loses to addr:street when both apply."""
    import pandas as pd

    from nominatim_spark.geometry.wkb import (
        box_wkb, linestring_wkb, point_wkb)
    from nominatim_spark.pipeline.placex import build_index
    from nominatim_spark.sources.synth import PLACE_SCHEMA

    cx, cy = 9.5, 47.5
    rows = [
        {"osm_type": "R", "osm_id": 700, "class": "boundary",
         "type": "administrative", "admin_level": 8,
         "name": {"name": "Waytown"}, "address": {}, "extratags": {},
         "geometry": box_wkb(cx - 0.2, cy - 0.2, cx + 0.2, cy + 0.2),
         "categories": ["osm.boundary.administrative", "osm.place.city"]},
        {"osm_type": "W", "osm_id": 710, "class": "highway",
         "type": "residential", "admin_level": None,
         "name": {"name": "Member Road"}, "address": {}, "extratags": {},
         "geometry": linestring_wkb([(cx - 0.1, cy), (cx + 0.1, cy)]),
         "categories": None},
        # tagless node, member of way 710 -> J11 lane
        {"osm_type": "N", "osm_id": 720, "class": "amenity",
         "type": "restaurant", "admin_level": None, "name": {},
         "address": {}, "extratags": {},
         "geometry": point_wkb(cx, cy + 0.0005), "categories": None},
        # node with addr:street AND membership: the tag lane must win
        {"osm_type": "N", "osm_id": 721, "class": "building",
         "type": "yes", "admin_level": None, "name": {},
         "address": {"housenumber": "1", "street": "Member Road"},
         "extratags": {},
         "geometry": point_wkb(cx + 0.01, cy + 0.0005), "categories": None},
    ]
    pdf = pd.DataFrame(rows)
    pdf["admin_level"] = pd.Series(
        [r.get("admin_level") for r in rows], dtype=object
    )
    place = spark.createDataFrame(pdf, schema=PLACE_SCHEMA)
    way_nodes = spark.createDataFrame(
        [(710, [720, 721])], "way_id long, nodes array<long>"
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_waynode"))
    idx = build_index(spark, place, ckpt_root=ckpt, way_nodes=way_nodes)
    px = {r.osm_id: r for r in idx.placex.collect()}
    street_pid = 710 * 4 + 1
    assert px[720].parent_place_id == street_pid  # membership lane
    assert px[721].parent_place_id == street_pid  # tag lane (same street)


def test_wikidata_demotion_requires_equal_geometry(spark, tmp_path_factory):
    """Duplicate-boundary demotion (placex_triggers.sql:888-903) requires
    BOTH the wikidata match and geometry equality (bbox proxy): a boundary
    replicating its parent exactly is demoted to rank_address 0; a distinct
    boundary that merely shares the wikidata tag keeps its address rank."""
    import pandas as pd

    from nominatim_spark.geometry.wkb import box_wkb
    from nominatim_spark.pipeline.placex import build_index
    from nominatim_spark.sources.synth import PLACE_SCHEMA

    cx, cy = 9.5, 47.5

    def bnd(osm_id, lvl, wikidata, box):
        return {
            "osm_type": "R", "osm_id": osm_id, "class": "boundary",
            "type": "administrative", "admin_level": lvl,
            "name": {"name": f"B{osm_id}"}, "address": {},
            "extratags": {"wikidata": wikidata},
            "geometry": box_wkb(*box),
            "categories": ["osm.boundary.administrative"],
        }

    big = (cx - 0.2, cy - 0.2, cx + 0.2, cy + 0.2)
    small = (cx - 0.05, cy - 0.05, cx + 0.05, cy + 0.05)
    rows = [
        bnd(800, 6, "Q77", big),
        bnd(801, 8, "Q77", big),    # same wikidata + same geometry -> demoted
        bnd(802, 8, "Q77", small),  # same wikidata, different geometry -> kept
    ]
    pdf = pd.DataFrame(rows)
    pdf["admin_level"] = pd.Series([r["admin_level"] for r in rows], dtype=object)
    place = spark.createDataFrame(pdf, schema=PLACE_SCHEMA)
    ckpt = str(tmp_path_factory.mktemp("ckpt_demote"))
    idx = build_index(spark, place, ckpt_root=ckpt)
    ra = {r.osm_id: r.rank_address for r in
          idx.placex.select("osm_id", "rank_address").collect()}
    assert ra[801] == 0
    assert ra[802] > 0
    assert ra[800] > 0


def test_reverse_housenumber_refinement(spark, index):
    """A street winner refines to the nearest child housenumber point
    within 0.001 deg, or to the street's interpolation segment when that
    is closer (reverse.py:242-320 applied at :322-389)."""
    idx, osmline = index
    cx, cy = synth.city_center(0)
    y_street = cy - 0.1                 # street j=0 line
    pts = spark.createDataFrame(
        [
            # near street centroid AND within 0.001 of house k=2 (x=cx,
            # y=y_street+0.0006, housenumber 5 at this fixture scale)
            ("near_house", cx, y_street + 0.0002),
            # near street centroid, 0.0005 off the interpolation line
            # (y = y_street - 0.004) -> interpolated housenumber
            ("near_interp", cx, y_street - 0.0035),
        ],
        "point_id string, lon double, lat double",
    )
    res = {r.point_id: r for r in reverse_geocode(
        spark, idx, pts, osmline=osmline).collect()}
    assert res["near_house"].tier == "house"
    assert res["near_house"].housenumber == "5"
    assert res["near_house"]["class"] == "building"
    assert res["near_interp"].tier == "interpolation"
    # frac 0.5 along 21..39 step 2 -> 21 + round(4.5)*2 = 31
    assert res["near_interp"].housenumber == "31"
    assert (res["near_interp"].osm_type, res["near_interp"].osm_id) == (
        "W", 5000000)
    assert res["near_interp"]["type"] == "houses"


def test_reverse_place_node_refinement(spark, index):
    """A point inside a city polygon near a suburb node returns the
    suburb node, not the city (IntersectsReverseDistance /
    IsBelowReverseDistance, reverse.py:436-459)."""
    idx, _ = index
    cx, cy = synth.city_center(0)
    pts = spark.createDataFrame(
        [
            # suburb node at (cx-0.06, cy-0.05); point 0.005 away,
            # inside city 0's polygon, off every street/house
            ("near_suburb", cx - 0.06, cy - 0.045),
            # same city, far from any suburb node -> city itself
            ("mid_city", cx + 0.002, cy + 0.07),
        ],
        "point_id string, lon double, lat double",
    )
    res = {r.point_id: r for r in reverse_geocode(spark, idx, pts).collect()}
    assert res["near_suburb"].tier == "place_node"
    assert res["near_suburb"]["type"] == "suburb"
    assert res["mid_city"].tier == "area"
    assert res["mid_city"].osm_id == 100


def test_reverse_layers_address_skips_poi(spark, index):
    """VERDICT r4 ask #5: reverse with layers=['address'] must skip a
    nearer POI (reference reverse.py:185-200 restrict union /
    ReverseDetails.layers, types.py:586-597)."""
    idx, _ = index
    cx, cy = synth.city_center(0)
    # exactly at POI 0 of city 0 (amenity/restaurant, 0.003 deg off its
    # street) — default layers return the POI, address layer the street
    pts = spark.createDataFrame(
        [("at_poi", cx - 0.08, cy - 0.097)],
        "point_id string, lon double, lat double",
    )
    res = {r.point_id: r
           for r in reverse_geocode(spark, idx, pts).collect()}
    assert res["at_poi"].osm_id == 100000 and res["at_poi"].osm_type == "N"

    # address layer: the POI is skipped; no address point within the
    # street radius here, so the cascade answers with the containing
    # city area (lookup_area, reverse.py:491-516)
    res = {r.point_id: r
           for r in reverse_geocode(spark, idx, pts,
                                    layers=["address"]).collect()}
    assert res["at_poi"].__getattr__("class") == "boundary"
    assert res["at_poi"].osm_id == 100
    assert res["at_poi"].tier == "area"

    res = {r.point_id: r
           for r in reverse_geocode(spark, idx, pts,
                                    layers=["poi"]).collect()}
    assert res["at_poi"].osm_id == 100000


def test_reverse_feature_layer(spark, index):
    """railway/natural feature layers answer from named rank_address-0
    places within 0.007 deg (_lookup_area_others, reverse.py:461-489);
    without the address layer there is no area/country fallback."""
    import dataclasses

    idx, _ = index
    cx, cy = synth.city_center(0)
    rail = (
        idx.placex.filter("osm_id = 100000")
        .withColumn("class", F.lit("railway"))
        .withColumn("type", F.lit("rail"))
        .withColumn("rank_address", F.lit(0))
        .withColumn("rank_search", F.lit(20))
        .withColumn("place_id", F.lit(999999001).cast("long"))
        .withColumn("osm_id", F.lit(999001).cast("long"))
    )
    aug = dataclasses.replace(idx, placex=idx.placex.unionByName(rail))
    pts = spark.createDataFrame(
        [("at_rail", cx - 0.08, cy - 0.097)],
        "point_id string, lon double, lat double",
    )
    res = {r.point_id: r
           for r in reverse_geocode(spark, aug, pts,
                                    layers=["railway"]).collect()}
    assert res["at_rail"].osm_id == 999001
    assert res["at_rail"].tier == "feature"
    # no natural candidates and no address fallback -> none
    res = {r.point_id: r
           for r in reverse_geocode(spark, aug, pts,
                                    layers=["natural"]).collect()}
    assert res["at_rail"].tier == "none"
    # default layers never surface the rank_address-0 feature
    res = {r.point_id: r
           for r in reverse_geocode(spark, aug, pts).collect()}
    assert res["at_rail"].osm_id == 100000


def test_reverse_tiger_refinement(spark, tmp_path):
    """US street winner with no OSM housenumber nearby refines to the
    closest TIGER segment of that street (reverse.py:365-374 +
    _find_tiger_number_for_street:293-320); a non-US street never
    consults TIGER, and an OSM interpolation still beats the TIGER row."""
    import pandas as pd

    from nominatim_spark.geometry.wkb import linestring_wkb, polygon_wkb
    from nominatim_spark.pipeline.placex import build_index
    from nominatim_spark.sources.synth import PLACE_SCHEMA
    from nominatim_spark.sources.tiger import read_tiger_csv, tiger_osmline

    rows = [
        {"osm_type": "R", "osm_id": 1, "class": "boundary",
         "type": "administrative", "admin_level": 2,
         "name": {"name": "United States"}, "address": {"country": "us"},
         "extratags": {},
         "geometry": polygon_wkb(
             [(-101.0, 39.0), (-99.0, 39.0), (-99.0, 41.0),
              (-101.0, 41.0), (-101.0, 39.0)]),
         "categories": None},
        {"osm_type": "R", "osm_id": 2, "class": "boundary",
         "type": "administrative", "admin_level": 2,
         "name": {"name": "France"}, "address": {"country": "fr"},
         "extratags": {},
         "geometry": polygon_wkb(
             [(8.0, 47.0), (10.0, 47.0), (10.0, 49.0),
              (8.0, 49.0), (8.0, 47.0)]),
         "categories": None},
        {"osm_type": "W", "osm_id": 500, "class": "highway",
         "type": "residential", "admin_level": None,
         "name": {"name": "Main Street"}, "address": {}, "extratags": {},
         "geometry": linestring_wkb([(-100.05, 40.0), (-99.95, 40.0)]),
         "categories": None},
        {"osm_type": "W", "osm_id": 600, "class": "highway",
         "type": "residential", "admin_level": None,
         "name": {"name": "Main Street"}, "address": {}, "extratags": {},
         "geometry": linestring_wkb([(8.95, 48.0), (9.05, 48.0)]),
         "categories": None},
    ]
    pdf = pd.DataFrame(rows)
    pdf["admin_level"] = pd.Series(
        [r.get("admin_level") for r in rows], dtype=object)
    place = spark.createDataFrame(pdf, schema=PLACE_SCHEMA)
    idx = build_index(spark, place, ckpt_root=str(tmp_path / "us_idx"))

    csv = tmp_path / "tiger_rev.csv"
    csv.write_text(
        "from;to;interpolation;street;city;state;postcode;geometry\n"
        "2;8;even;Main Street;Kay;KS;66000;"
        "LINESTRING(-100.05 40.0005,-99.95 40.0005)\n"
        "2;8;even;Main Street;Nulleville;FR;75000;"
        "LINESTRING(8.95 48.0005,9.05 48.0005)\n"
    )
    tlines = tiger_osmline(spark, read_tiger_csv(spark, str(csv)),
                           idx.placex)
    pts = spark.createDataFrame(
        [("us_pt", -100.0, 40.0006), ("fr_pt", 9.0, 48.0006)],
        "point_id string, lon double, lat double",
    )
    res = {r.point_id: r for r in reverse_geocode(
        spark, idx, pts, tiger=tlines).collect()}
    assert res["us_pt"].tier == "tiger"
    # frac 0.5 along 2..8 step 2 -> 2 + round(1.5)*2 = 6
    assert res["us_pt"].housenumber == "6"
    # TIGER keeps the parent street's osm object (results.py:386)
    assert (res["us_pt"].osm_type, res["us_pt"].osm_id) == ("W", 500)
    assert res["us_pt"]["type"] == "house"
    assert res["us_pt"].country_code == "us"
    # the same TIGER shape near a French street is never consulted
    assert res["fr_pt"].tier == "street_poi"
    assert res["fr_pt"].osm_id == 600

    # an OSM interpolation of the street overrides the TIGER answer
    osmline = spark.createDataFrame(
        [(9901, 7700, 500 * 4 + 1, 21, 29, 2,
          bytearray(linestring_wkb([(-100.05, 40.0004),
                                    (-99.95, 40.0004)])))],
        "osmline_id long, way_id long, parent_place_id long, "
        "startnumber int, endnumber int, step int, geometry binary",
    )
    res = {r.point_id: r for r in reverse_geocode(
        spark, idx, pts, tiger=tlines, osmline=osmline).collect()}
    assert res["us_pt"].tier == "interpolation"
    assert res["us_pt"].housenumber == "25"
