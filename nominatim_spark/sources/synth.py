"""Deterministic synthetic data: an OSM-style country + Common-Crawl pages.

Everything is index arithmetic — no RNG — so every run, every executor, and
every scale produces byte-identical rows (the per-url byte-identity invariant
of the extraction stage depends on this).  The place fixture mirrors the
shapes the reference's BDD import tests use (a small country with states,
cities, suburbs, streets, houses, POIs, interpolation ways — FIXTURES.md §2,
/root/reference/test/bdd/features/db/import/*.feature), and the pages table
matches the BASELINE.json input_hint schema exactly:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Skew is deliberate: ~30% of pages mention places in city 0 (the "hot cell"),
so the extraction/geocode joins exercise AQE skew handling.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from nominatim_spark.geometry.wkb import box_wkb, linestring_wkb, point_wkb

COUNTRY_NAME = "Corvania"
COUNTRY_CC = "cv"
CO_LON0, CO_LAT0, CO_LON1, CO_LAT1 = 9.0, 47.0, 11.0, 48.5

_STREET_A = [
    "Birch", "Elm", "Oak", "Maple", "Cedar", "Willow", "Aspen", "Linden",
    "Juniper", "Hazel", "Rowan", "Alder", "Poplar", "Walnut", "Chestnut",
    "Sycamore", "Laurel", "Magnolia", "Cypress", "Spruce",
]
_STREET_B = ["Street", "Lane", "Road", "Avenue", "Way"]
_CITY_NAMES = [
    "Vels", "Marden", "Tarlow", "Quorn", "Istra", "Pelm", "Roden", "Sabel",
    "Norwick", "Lunden", "Ferris", "Graden", "Holm", "Ister", "Jarn", "Kelm",
]
_POI_WORDS = [
    "Amber", "Bronze", "Coral", "Damson", "Ebony", "Fjord", "Garnet",
    "Harbor", "Indigo", "Jasper", "Krone", "Lumen",
]
_SUBURB_NAMES = ["Northside", "Easthollow", "Southgate", "Westfield"]
_FILLER = [
    "the quick survey of regional trade shows steady growth",
    "council minutes note the new bridge opened last spring",
    "visitors praised the market square and its old clock",
    "the annual report lists repairs to the main waterworks",
    "local archives mention the festival held each autumn",
]


def _int_or_none(col: pd.Series) -> pd.Series:
    """Object-dtype python-int-or-None column.

    pandas coerces an int/None mix to float64; Spark's non-Arrow
    createDataFrame row verifier then rejects ``2.0`` for ``IntegerType``
    (the Arrow path casts silently, masking the bug locally).  Keep the
    column object-dtype so both code paths accept it."""
    return pd.Series([None if pd.isna(v) else int(v) for v in col],
                     dtype=object, index=col.index)


def city_center(i: int) -> tuple[float, float]:
    return 9.25 + (i % 4) * 0.45, 47.25 + (i // 4) * 0.35


def street_name(city: int, j: int) -> str:
    return f"{_STREET_A[j % len(_STREET_A)]} {_STREET_B[(city + j) % len(_STREET_B)]}"


def city_name(i: int) -> str:
    if i < len(_CITY_NAMES):
        return _CITY_NAMES[i]
    return f"{_CITY_NAMES[i % len(_CITY_NAMES)]}{i // len(_CITY_NAMES)}"


def poi_name(city: int, p: int) -> str:
    return f"Cafe {_POI_WORDS[(city * 3 + p) % len(_POI_WORDS)]} {city_name(city)}"


def make_places(n_cities: int = 8, n_streets: int = 12, n_houses: int = 10,
                n_pois: int = 5) -> pd.DataFrame:
    """OSM-like ``place`` rows (FIXTURES.md §2 schema).

    osm_id ranges: country 1, states 10+, cities 100+, suburbs 1000+,
    streets 10000+, POIs 100000+, houses 1000000+, interpolation ways
    5000000+ (companion nodes 6000000+).
    """
    assert n_cities <= 16 * 4 and n_streets <= len(_STREET_A)
    rows: list[dict] = []

    def add(osm_type, osm_id, cls, typ, name, address, extratags, geom,
            admin_level=None, categories=None):
        rows.append({
            "osm_type": osm_type, "osm_id": osm_id, "class": cls,
            "type": typ, "admin_level": admin_level,
            "name": ({"name": name} if isinstance(name, str) else name),
            "address": address or {}, "extratags": extratags or {},
            "geometry": geom, "categories": categories,
        })

    add("R", 1, "boundary", "administrative", COUNTRY_NAME,
        {"country": COUNTRY_CC}, {"wikidata": "Q90001"},
        box_wkb(CO_LON0, CO_LAT0, CO_LON1, CO_LAT1), admin_level=2,
        categories=["osm.boundary.administrative", "osm.place.country"])

    add("R", 10, "boundary", "administrative", "Westmark", None, None,
        box_wkb(CO_LON0, CO_LAT0, 10.0, CO_LAT1), admin_level=4,
        categories=["osm.boundary.administrative", "osm.place.state"])
    add("R", 11, "boundary", "administrative", "Ostmark", None, None,
        box_wkb(10.0, CO_LAT0, CO_LON1, CO_LAT1), admin_level=4,
        categories=["osm.boundary.administrative", "osm.place.state"])

    for i in range(n_cities):
        cx, cy = city_center(i)
        extratags = {"wikidata": f"Q{1000 + i}"}
        if i == 0:
            extratags["capital"] = "yes"
        add("R", 100 + i, "boundary", "administrative", city_name(i),
            {"postcode": f"47{i:03d}"}, extratags,
            box_wkb(cx - 0.15, cy - 0.12, cx + 0.15, cy + 0.12), admin_level=8,
            categories=["osm.boundary.administrative", "osm.place.city"])

    # label nodes for cities: same name + wikidata as the boundary ->
    # linked during indexing (placex_triggers.sql:271-391, linking.feature)
    for i in range(n_cities):
        cx, cy = city_center(i)
        add("N", 3000 + i, "place", "city", city_name(i), None,
            {"wikidata": f"Q{1000 + i}"}, point_wkb(cx + 0.01, cy + 0.008))

    # suburbs in the hot city 0
    cx0, cy0 = city_center(0)
    for s, sname in enumerate(_SUBURB_NAMES):
        sx = cx0 + (0.06 if s % 2 else -0.06)
        sy = cy0 + (0.05 if s // 2 else -0.05)
        add("N", 1000 + s, "place", "suburb", sname, None, None,
            point_wkb(sx, sy))

    # a couple of free-standing villages, each with addr:place houses
    # (find_parent_for_poi's place lane, partition-functions.sql:181-207)
    for v in range(3):
        vx, vy = 9.1 + v * 0.61, 48.31 + v * 0.05
        add("N", 2000 + v, "place", "village", f"Dorf {city_name(v + 8)}",
            None, None, point_wkb(vx, vy))
        for h in range(2):
            add("N", 4000 + v * 10 + h, "building", "yes", None,
                {"housenumber": str(h + 1),
                 "place": f"Dorf {city_name(v + 8)}"},
                None, point_wkb(vx + 0.005 + h * 0.003, vy + 0.004))

    for i in range(n_cities):
        cx, cy = city_center(i)
        for j in range(n_streets):
            sid = 10000 + i * 100 + j
            y = cy - 0.1 + j * (0.2 / max(n_streets, 1))
            coords = [(cx - 0.12, y), (cx + 0.12, y)]
            add("W", sid, "highway", "residential", street_name(i, j),
                None, None, linestring_wkb(coords))
            # houses along the street
            for k in range(n_houses):
                hx = cx - 0.1 + k * (0.2 / max(n_houses, 1))
                add("N", 1000000 + sid * 100 + k, "building", "yes", None,
                    {"housenumber": str(2 * k + 1),
                     "street": street_name(i, j)},
                    None, point_wkb(hx, y + 0.0006))
        for p in range(n_pois):
            px = cx - 0.08 + p * 0.04
            # sit each POI a few millidegrees off its tagged street, inside
            # the reference's 0.015-degree street-match box
            j = p % n_streets
            py = cy - 0.1 + j * (0.2 / max(n_streets, 1)) + 0.003 + (p % 3) * 0.001
            add("N", 100000 + i * 100 + p, "amenity", "restaurant",
                poi_name(i, p), {"street": street_name(i, j)},
                None, point_wkb(px, py))

    pdf = pd.DataFrame(rows)
    pdf["admin_level"] = _int_or_none(pdf["admin_level"])
    return pdf


def make_associated_streets(n_cities: int = 8, n_streets: int = 12
                            ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """associatedStreet relations (reference: init.lua place_associated_street
    input + placex_triggers.sql:119-182 parenting).

    One relation per city: street member = street j=1, house members = three
    new house nodes carrying only a housenumber (no addr:street — they are
    parentable ONLY through the relation).  Returns (members_pdf, houses_pdf)
    where houses must be appended to the place table.
    """
    members, houses = [], []
    for i in range(n_cities):
        if n_streets < 2:
            continue
        rel_id = 8000 + i
        street_osm = 10000 + i * 100 + 1
        members.append({"relation_id": rel_id, "member_type": "W",
                        "member_id": street_osm, "role": "street"})
        cx, cy = city_center(i)
        y = cy - 0.1 + 1 * (0.2 / max(n_streets, 1))
        for k in range(3):
            hid = 7000000 + i * 10 + k
            members.append({"relation_id": rel_id, "member_type": "N",
                            "member_id": hid, "role": "house"})
            # field order MUST match PLACE_SCHEMA (pandas -> spark maps
            # positionally for DDL schemas)
            houses.append({
                "osm_type": "N", "osm_id": hid, "class": "building",
                "type": "yes", "admin_level": None, "name": {},
                "address": {"housenumber": str(100 + 2 * k)},
                "extratags": {},
                "geometry": point_wkb(cx - 0.05 + k * 0.02, y - 0.0008),
                "categories": None,
            })
    houses_pdf = pd.DataFrame(houses)
    if len(houses_pdf):
        houses_pdf["admin_level"] = _int_or_none(houses_pdf["admin_level"])
    return pd.DataFrame(members), houses_pdf


def make_label_members(n_cities: int = 8) -> pd.DataFrame:
    """Relation label members (reference linking lane 0,
    placex_triggers.sql:283-309): odd-indexed city boundary relations carry
    their label node as a role='label' member.  Even-indexed cities keep
    linking through the wikidata/name lanes, so every lane stays
    exercised."""
    rows = [
        {"relation_id": 100 + i, "member_type": "N",
         "member_id": 3000 + i, "role": "label"}
        for i in range(n_cities) if i % 2 == 1
    ]
    return pd.DataFrame(
        rows, columns=["relation_id", "member_type", "member_id", "role"]
    )


def make_interpolations(n_cities: int = 8) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Interpolation ways + companion housenumber nodes (FIXTURES.md §3).

    One 'odd' interpolation per city on street j=0: endpoint nodes carry
    housenumbers 21 and 21 + 2*9.
    """
    ways, nodes = [], []
    for i in range(n_cities):
        cx, cy = city_center(i)
        y = cy - 0.1 - 0.004  # just south of street 0
        wid = 5000000 + i
        n1, n2 = 6000000 + i * 2, 6000000 + i * 2 + 1
        ways.append({
            "osm_id": wid, "type": "odd",
            "address": {"street": street_name(i, 0)},
            "nodes": [n1, n2],
            "geometry": linestring_wkb([(cx - 0.1, y), (cx + 0.1, y)]),
        })
        nodes.append({"osm_id": n1, "housenumber": "21",
                      "lon": cx - 0.1, "lat": y})
        nodes.append({"osm_id": n2, "housenumber": str(21 + 2 * 9),
                      "lon": cx + 0.1, "lat": y})
    return pd.DataFrame(ways), pd.DataFrame(nodes)


# ------------------------------------------------------------------- pages

def _mention(page_idx: int, n_cities: int, n_streets: int, n_houses: int,
             n_pois: int) -> tuple[str, str, int]:
    """Deterministic address mention for a page.

    Returns (mention_text, kind, city).  ~30% of pages hit city 0 (skew).
    """
    city = 0 if page_idx % 10 < 3 else (page_idx * 7) % n_cities
    kind = page_idx % 4
    if kind == 0:  # POI
        p = (page_idx // 4) % n_pois
        return f"{poi_name(city, p)}, {city_name(city)}", "poi", city
    if kind == 1:  # street + housenumber
        j = (page_idx // 4) % n_streets
        k = (page_idx // 8) % n_houses
        if page_idx % 8 == 5:
            # postcode-bearing form ('street 5, 12345 city') — exercises
            # the in-phrase postcode role end-to-end; same ground truth
            return (
                f"{street_name(city, j)} {2 * k + 1}, "
                f"47{city:03d} {city_name(city)}",
                "house", city,
            )
        return (
            f"{street_name(city, j)} {2 * k + 1}, {city_name(city)}",
            "house", city,
        )
    if kind == 2:  # street only
        j = (page_idx // 4) % n_streets
        return f"{street_name(city, j)}, {city_name(city)}", "street", city
    # city + country
    return f"{city_name(city)}, {COUNTRY_NAME}", "city", city


def expected_target(page_idx: int, n_cities: int = 8, n_streets: int = 12,
                    n_houses: int = 10, n_pois: int = 5) -> tuple[str, int]:
    """Ground truth for a page's mention: the (osm_type, osm_id) a correct
    geocoder must return.  Derived from the same arithmetic as _mention."""
    _, kind, city = _mention(page_idx, n_cities, n_streets, n_houses, n_pois)
    if kind == "poi":
        return "N", 100000 + city * 100 + (page_idx // 4) % n_pois
    if kind == "house":
        sid = 10000 + city * 100 + (page_idx // 4) % n_streets
        return "N", 1000000 + sid * 100 + (page_idx // 8) % n_houses
    if kind == "street":
        return "W", 10000 + city * 100 + (page_idx // 4) % n_streets
    return "R", 100 + city


_LANGS = ["en", "de", "fr", "es", "zh"]
_EPOCH = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)


def _page_row(p: int, n_cities: int, n_streets: int, n_houses: int,
              n_pois: int, n_filler: int = 1, mention_pct: int = 100) -> dict:
    """``n_filler`` controls page size (real crawl pages are KBs, not
    bytes); ``mention_pct`` the share of pages carrying an address mention
    (real crawls are mostly non-geocodable pages). Benchmarks use ~40
    paragraphs / 10 percent."""
    mention, kind, city = _mention(p, n_cities, n_streets, n_houses, n_pois)
    has_mention = (p * 61 % 100) < mention_pct
    paras = "".join(
        f"<p>{_FILLER[(p + k) % len(_FILLER)]} item {p % 1000}-{k}</p>"
        for k in range(n_filler)
    )
    geo = ""
    if p % 5 == 0:
        cx, cy = city_center(city)
        geo = (
            f'<meta name="geo" content="{cy + (p % 7) * 0.001:.6f};'
            f'{cx + (p % 11) * 0.001:.6f}">'
        )
    adr = f"<span class=\"adr\">{mention}</span>" if has_mention else ""
    html = (
        f"<html><head><title>page {p}</title>{geo}</head><body>"
        f"{paras}{adr}{paras}</body></html>"
    )
    return {
        "url": f"https://site{p % 97}.example/{kind}/{p}",
        "warc_ts": _EPOCH + dt.timedelta(seconds=p * 37),
        "html": html.encode("utf-8"),
        "text": f"page {p} {_FILLER[p % len(_FILLER)]}"
                + (f" {mention}" if has_mention else ""),
        "lang": _LANGS[p % len(_LANGS)],
    }


def make_pages(n_pages: int = 2000, n_cities: int = 8, n_streets: int = 12,
               n_houses: int = 10, n_pois: int = 5, n_filler: int = 1) -> pd.DataFrame:
    """Common-Crawl-style pages embedding address mentions.

    html embeds the mention in ``<span class="adr">...</span>`` plus an
    optional ``<meta name="geo" content="lat;lon">`` for reverse geocoding;
    text carries the same mention inline (the byte-identity oracle).
    """
    return pd.DataFrame(
        [_page_row(p, n_cities, n_streets, n_houses, n_pois, n_filler)
         for p in range(n_pages)]
    )


def pages_df_dist(spark, n_pages: int, n_cities: int = 8, n_streets: int = 12,
                  n_houses: int = 10, n_pois: int = 5, parallelism: int = 64,
                  n_filler: int = 1, mention_pct: int = 100):
    """Distributed page synthesis: page index is the only input, so every
    partition generates its slice independently — scales linearly with
    executors (and the rows are identical to make_pages at any
    parallelism)."""
    from typing import Iterator

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [_page_row(int(p), n_cities, n_streets, n_houses, n_pois,
                           n_filler, mention_pct)
                 for p in pdf["id"]]
            )

    return (
        spark.range(0, n_pages, numPartitions=parallelism)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )


PLACE_SCHEMA = (
    "osm_type string, osm_id long, class string, type string, "
    "admin_level int, name map<string,string>, address map<string,string>, "
    "extratags map<string,string>, geometry binary, categories array<string>"
)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def place_df(spark, **kw):
    return spark.createDataFrame(make_places(**kw), schema=PLACE_SCHEMA)


def pages_df(spark, **kw):
    return spark.createDataFrame(make_pages(**kw), schema=PAGES_SCHEMA)
