"""/lookup, /details, /status API + CLI surface.

Shapes from the reference's lookup cascade
(src/nominatim_api/lookup.py:196-330) and CLI layout
(src/nominatim_db/cli.py)."""

import json

import pytest

from nominatim_spark.pipeline.lookup import (
    lookup_places, place_details, status)
from nominatim_spark.plans.flagship import build_synth_index
from nominatim_spark.sources import synth

SCALE = dict(n_cities=2, n_streets=2, n_houses=2, n_pois=1)


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_lookup"))
    idx, osmline = build_synth_index(spark, ckpt_root=ckpt, **SCALE)
    idx.placex.persist().count()
    return idx, osmline, ckpt


def test_lookup_by_osm_ref_and_place_id(spark, index):
    idx, osmline, _ = index
    street_pid = idx.placex.filter("osm_id = 10000 AND osm_type = 'W'") \
                           .head().place_id
    res = {r.ref_id: r for r in lookup_places(
        spark, idx, ["W10000", "R100", street_pid, "N999999999"],
        osmline=osmline).collect()}
    assert res["W10000"].osm_id == 10000 and res["W10000"]["class"] == "highway"
    assert res["R100"]["class"] == "boundary"
    assert res[str(street_pid)].place_id == street_pid
    # unresolvable refs are absent (reference drops them too)
    assert "N999999999" not in res


def test_lookup_osmline_cascade(spark, index):
    """A W ref that is not in placex falls through to the interpolation
    table (find_in_osmline, lookup.py:245-286) — one row per ref."""
    idx, osmline, _ = index
    way_id = osmline.head().way_id
    res = lookup_places(spark, idx, [f"W{way_id}"], osmline=osmline).collect()
    assert len(res) == 1
    assert res[0].type == "houses" and res[0].rank_address == 30


def test_place_details_address_chain(spark, index):
    idx, osmline, _ = index
    res = place_details(spark, idx, ["W10000"], osmline=osmline).collect()
    assert len(res) == 1
    # the display chain carries the city ancestor
    assert synth.city_name(0) in (res[0].display_name or "")


def test_status(spark, index):
    idx, _, _ = index
    st = status(spark, idx)
    assert st["status"] == 0 and st["places"] > 0 and st["words"] > 0


def test_cli_search_lookup_status(spark, index, capsys):
    from nominatim_spark.cli import main

    _, _, ckpt = index
    rc = main(["search", f"Birch Street, {synth.city_name(0)}",
               "--index", ckpt])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 1
    doc = json.loads(out[0])
    assert doc["osm_id"] == 10000 and doc["osm_type"] == "way"
    assert doc["display_name"] == "Birch Street"

    rc = main(["reverse", "47.15", "9.25", "--index", ckpt])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0 and len(out) == 1 and json.loads(out[0])["place_id"]

    rc = main(["lookup", "R100", "--index", ckpt, "--format", "geojson"])
    out = capsys.readouterr().out.strip().splitlines()
    feat = json.loads(out[0])
    assert feat["type"] == "Feature"
    assert feat["properties"]["osm_type"] == "relation"

    rc = main(["status", "--index", ckpt])
    st = json.loads(capsys.readouterr().out.strip())
    assert st["status"] == 0 and st["places"] > 0


def test_lookup_numeric_string_and_bad_ref(spark, index):
    """CLI argv delivers place ids as digit strings — they must resolve
    as place ids, not parse as osm refs; malformed refs raise a clear
    error (ADVICE r3)."""
    idx, osmline, _ = index
    street_pid = idx.placex.filter("osm_id = 10000 AND osm_type = 'W'") \
                           .head().place_id
    res = lookup_places(spark, idx, [str(street_pid)],
                        osmline=osmline).collect()
    assert len(res) == 1 and res[0].place_id == street_pid

    with pytest.raises(ValueError, match="bad place ref"):
        lookup_places(spark, idx, ["X"], osmline=osmline)


def test_cli_place_import_no_fabricated_osmline(spark, index, tmp_path,
                                                capsys):
    """A non-synth `import --place` records its mode; post-import
    commands resume WITHOUT rebuilding synthetic interpolation lines
    against the imported placex (ADVICE r3: fabricated interp hits)."""
    import argparse

    from nominatim_spark.cli import _load_index, main

    place_pq = str(tmp_path / "place.parquet")
    synth.place_df(spark, **{k: v for k, v in SCALE.items()
                             if k.startswith("n_")}).write.parquet(place_pq)
    ckpt = str(tmp_path / "idx")
    rc = main(["import", "--place", place_pq, "--index", ckpt])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["imported"] > 0

    args = argparse.Namespace(index=ckpt, cpus=4)
    idx2, osmline2, _tiger2 = _load_index(spark, args)
    assert osmline2 is None  # nothing fabricated for a --place import
    assert idx2.search_name.count() == out["searchable"]

    # housenumber search falls back to real rows only (house or street)
    rc = main(["search", f"Birch Street 3, {synth.city_name(0)}",
               "--index", ckpt])
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert rc == 0 and doc["osm_type"] in ("node", "way")
    assert doc.get("class") != "place" or doc.get("type") != "houses"


def test_geocodejson_format(spark, index, capsys):
    """geocodejson envelope + per-feature geocoding properties
    (format_json.py:244-322 shapes)."""
    from nominatim_spark.cli import main

    _, _, ckpt = index
    rc = main(["search", f"Birch Street, {synth.city_name(0)}",
               "--index", ckpt, "--format", "geocodejson"])
    doc = json.loads(capsys.readouterr().out.strip())
    assert rc == 0 and doc["type"] == "FeatureCollection"
    assert doc["geocoding"]["version"] == "0.1.0"
    feat = doc["features"][0]
    g = feat["properties"]["geocoding"]
    assert g["osm_key"] == "highway" and g["osm_value"] == "residential"
    assert g["type"] == "street" and g["osm_type"] == "way"
    assert g["label"] == "Birch Street"
    assert feat["geometry"]["type"] == "Point"


def test_cli_add_tiger_then_lookup(spark, index, tmp_path, capsys):
    """`add-tiger` checkpoints parented TIGER segments on the index root;
    later CLI loads thread them into search/reverse/lookup (the
    reference's `nominatim add-data --tiger-data`, tools/tiger_data.py +
    find_in_tiger, lookup.py:353-378)."""
    from nominatim_spark.cli import main

    _, _, ckpt = index
    cx, cy = synth.city_center(0)
    y = cy - 0.1
    csv = tmp_path / "tiger_cli.csv"
    csv.write_text(
        "from;to;interpolation;street;city;state;postcode;geometry\n"
        f"200;220;even;Birch Street;Vels;CV;47000;"
        f"LINESTRING({cx - 0.05} {y + 0.001},{cx + 0.05} {y + 0.001})\n"
    )
    rc = main(["add-tiger", "--csv", str(csv), "--index", ckpt])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["tiger_segments"] == 1

    # the TIGER range resolves through the search housenumber lane
    rc = main(["search", f"Birch Street 210, {synth.city_name(0)}",
               "--index", ckpt])
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert rc == 0 and doc["type"] == "houses"

    # /lookup by the segment's synthetic place id (find_in_tiger)
    from nominatim_spark.io.checkpoint import load_checkpoint

    seg = load_checkpoint(spark, ckpt, "tiger").head()
    rc = main(["lookup", str(seg.osmline_id), "--index", ckpt])
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert rc == 0 and doc["type"] == "houses"
    assert doc["osm_type"] == "way"  # parent street's osm object


def test_geocodejson_addressdetails(spark, index, capsys):
    """addressdetails flattens ancestor rank labels into the geocoding
    object and nests the adminN map (_write_geocodejson_address +
    format_json.py:284-294)."""
    from nominatim_spark.cli import main

    _, _, ckpt = index
    rc = main(["search", f"Birch Street, {synth.city_name(0)}",
               "--index", ckpt, "--format", "geocodejson",
               "--addressdetails"])
    doc = json.loads(capsys.readouterr().out.strip())
    g = doc["features"][0]["properties"]["geocoding"]
    assert rc == 0 and g["type"] == "street"
    assert g["city"] == synth.city_name(0)
    assert "country" in g                       # rank-4 ancestor present
    assert g["admin"]["level8"] == synth.city_name(0)
    assert g["country_code"]
    # without the flag the labels stay absent
    rc = main(["search", f"Birch Street, {synth.city_name(0)}",
               "--index", ckpt, "--format", "geocodejson"])
    doc = json.loads(capsys.readouterr().out.strip())
    g = doc["features"][0]["properties"]["geocoding"]
    assert "city" not in g and "admin" not in g


def test_lookup_refs_are_a_jvm_relation(spark, index):
    """The ref table is built from literals, not parallelized pickles: no
    Python-backed scan in the plan; an empty ref list answers no rows
    with the same columns."""
    idx, osmline, _ = index
    street_pid = idx.placex.filter("osm_id = 10000 AND osm_type = 'W'") \
                           .head().place_id
    res = lookup_places(spark, idx, ["N999999999", str(street_pid)],
                        osmline=osmline)
    plan = res._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    # leaves only: a cached index table's own lineage is not this call's
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert scans and not any("ExistingRDD" in n or "PythonRDD" in n
                             for n in scans), scans
    assert [r.ref_id for r in res.collect()] == [str(street_pid)]

    empty = lookup_places(spark, idx, [], osmline=osmline)
    assert empty.columns == res.columns
    assert empty.collect() == []


def _leaf_names(plan):
    """Leaf node names of a physical plan, looking through adaptive
    wrappers and into cached relations."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _leaf_names(plan.inputPlan())
    if name == "InMemoryTableScan":
        return _leaf_names(plan.relation().cachedPlan())
    kids = plan.children()
    if kids.isEmpty():
        return [name]
    return [n for i in range(kids.size()) for n in _leaf_names(kids.apply(i))]


def test_cached_placex_plan_has_no_python_scan(spark, index):
    """The postcode rules that tokenizing placex joins are a JVM relation:
    computing the cached placex runs no Python task to unpickle them."""
    idx, _, _ = index
    leaves = _leaf_names(idx.placex._jdf.queryExecution().executedPlan())
    assert leaves and not any("ExistingRDD" in n or "PythonRDD" in n
                              for n in leaves), leaves
