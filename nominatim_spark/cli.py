"""Command-line surface — the reference's ``nominatim`` CLI re-shaped
for the batch engine (src/nominatim_db/cli.py subcommand layout; api
commands src/nominatim_api/...).

Subcommands:

* ``import --place <parquet> --index <dir>`` — build the full index from
  a place-schema parquet and checkpoint it (the reference's
  ``nominatim import --osm-file``); ``--synth`` builds the synthetic
  demo dataset instead.
* ``search "<query>" --index <dir>`` — batch geocode of one (or more,
  comma-file) queries; prints one JSON line per result.
* ``reverse <lat> <lon> --index <dir>`` — reverse geocode a point.
* ``lookup <ref> [<ref> ...] --index <dir>`` — resolve N/W/R osm refs
  or numeric place ids.
* ``details <ref> --index <dir>`` — lookup + display-address chain.
* ``status --index <dir>`` — version + index shape.

The index directory is the engine's checkpoint root: ``import`` writes
it, every other command resumes from it (build_index(resume=True) loads
the per-stage parquet checkpoints without recompute).
"""

from __future__ import annotations

import argparse
import json
import sys


def _get_spark(args):
    from nominatim_spark.session import get_spark

    return get_spark("nominatim_spark_cli", cpus=args.cpus)


def _import_marker(index_root: str) -> dict:
    import os

    path = os.path.join(index_root, "_import.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    # pre-marker checkpoint roots were only ever synthetic
    return {"mode": "synth"}


def _load_index(spark, args):
    """Resume from a checkpoint root according to its import mode: a
    ``--synth`` import rebuilds the synthetic frames around the
    checkpoints; a ``--place`` import loads purely from parquet (its
    osmline and TIGER segments come from checkpoints too — never
    fabricated).  Returns (idx, osmline, tiger)."""
    import os

    from nominatim_spark.io.checkpoint import has_checkpoint, load_checkpoint

    marker = _import_marker(args.index)
    if marker.get("mode") == "synth":
        from nominatim_spark.plans.flagship import build_synth_index

        idx, osmline = build_synth_index(spark, ckpt_root=args.index,
                                         resume=True)
        tiger = (load_checkpoint(spark, args.index, "tiger")
                 if has_checkpoint(args.index, "tiger") else None)
        return idx, osmline, tiger
    from nominatim_spark.pipeline.placex import load_index

    idx = load_index(spark, args.index)
    osmline = (load_checkpoint(spark, args.index, "osmline")
               if has_checkpoint(args.index, "osmline") else None)
    tiger = (load_checkpoint(spark, args.index, "tiger")
             if has_checkpoint(args.index, "tiger") else None)
    return idx, osmline, tiger


def _print_rows(df, fmt: str, idx=None,
                addressdetails: bool = False) -> None:
    from pyspark.sql import functions as F

    from nominatim_spark.functions.format import to_geojson_col, to_json_col

    if "display_name" not in df.columns:
        if idx is not None:
            names = idx.placex.select(
                "place_id", F.col("name").getItem("name").alias("_nm")
            )
            df = df.join(names, "place_id", "left")
        else:
            df = df.withColumn("_nm", F.lit(None).cast("string"))
        parts = []
        if "housenumber" in df.columns:
            parts.append(F.when(
                F.col("housenumber").isNotNull(),
                F.concat_ws(" ", "housenumber", "_nm"),
            ))
        parts += [F.col("_nm"), F.col("type")]
        df = df.withColumn("display_name", F.coalesce(*parts)).drop("_nm")
    if "importance" not in df.columns:
        df = df.withColumn("importance", F.lit(0.0))
    if fmt == "geocodejson":
        from nominatim_spark.functions.format import (
            geocodejson_envelope, to_geocodejson_col,
            with_geocodejson_address)

        if addressdetails and idx is not None:
            from nominatim_spark.pipeline.addressline import (
                build_place_addressline)

            al = build_place_addressline(df.sparkSession, idx.placex,
                                         points=df)
            df = with_geocodejson_address(df, idx.placex, al)
        feats = [r.result_geocodejson
                 for r in to_geocodejson_col(
                     df, addressdetails=addressdetails)
                 .select("result_geocodejson").collect()]
        print(geocodejson_envelope(feats))
        return
    out_col = {"json": "result_json", "geojson": "result_geojson"}[fmt]
    conv = {"json": to_json_col, "geojson": to_geojson_col}[fmt]
    for row in conv(df).select(out_col).collect():
        print(row[out_col])


def cmd_import(args) -> int:
    import os

    spark = _get_spark(args)
    if args.synth:
        from nominatim_spark.plans.flagship import build_synth_index

        idx, _ = build_synth_index(spark, ckpt_root=args.index)
        mode = "synth"
    else:
        if not args.place:
            raise SystemExit("import: --place <parquet> or --synth required")
        from nominatim_spark.pipeline.placex import build_index

        place = spark.read.parquet(args.place)
        idx = build_index(spark, place, ckpt_root=args.index)
        mode = "place"
    with open(os.path.join(args.index, "_import.json"), "w") as fh:
        json.dump({"mode": mode}, fh)
    print(json.dumps({"imported": idx.placex.count(),
                      "searchable": idx.search_name.count()}))
    return 0


def cmd_search(args) -> int:
    from nominatim_spark.pipeline.search import geocode
    from nominatim_spark.session import local_rows

    spark = _get_spark(args)
    idx, osmline, tiger = _load_index(spark, args)
    if tiger is not None:
        # TIGER segments are osmline-shaped: the housenumber range lane
        # picks them up like OSM interpolations (tiger_data.py end state)
        osmline = (tiger if osmline is None
                   else osmline.select(tiger.columns).unionByName(tiger))
    q = local_rows(spark, [(str(i), t) for i, t in enumerate(args.query)],
                   "query_id string, qtext string")
    res = geocode(spark, idx, q, osmline=osmline)
    _print_rows(res, args.format, idx,
                addressdetails=getattr(args, 'addressdetails', False))
    return 0


def cmd_reverse(args) -> int:
    from nominatim_spark.pipeline.reverse import reverse_geocode
    from nominatim_spark.session import local_rows

    spark = _get_spark(args)
    idx, osmline, tiger = _load_index(spark, args)
    pts = local_rows(spark, [(0, args.lon, args.lat)],
                     "point_id long, lon double, lat double")
    res = reverse_geocode(spark, idx, pts, osmline=osmline, tiger=tiger)
    _print_rows(res, args.format, idx,
                addressdetails=getattr(args, 'addressdetails', False))
    return 0


def cmd_lookup(args) -> int:
    from nominatim_spark.pipeline.lookup import lookup_places

    spark = _get_spark(args)
    idx, osmline, tiger = _load_index(spark, args)
    res = lookup_places(spark, idx, args.refs, osmline=osmline, tiger=tiger)
    _print_rows(res, args.format, idx,
                addressdetails=getattr(args, 'addressdetails', False))
    return 0


def cmd_details(args) -> int:
    from nominatim_spark.pipeline.lookup import place_details

    spark = _get_spark(args)
    idx, osmline, tiger = _load_index(spark, args)
    res = place_details(spark, idx, args.refs, osmline=osmline, tiger=tiger)
    for row in res.toJSON().collect():
        print(row)
    return 0


def cmd_add_tiger(args) -> int:
    """Attach TIGER address ranges to an imported index — the reference's
    ``nominatim add-data --tiger-data`` (tools/tiger_data.py): segments
    parent to existing streets and checkpoint as the ``tiger`` stage, so
    search/reverse/lookup pick them up on every later load."""
    from nominatim_spark.io.checkpoint import checkpoint
    from nominatim_spark.sources.tiger import read_tiger_csv, tiger_osmline

    spark = _get_spark(args)
    idx, _osmline, _tiger = _load_index(spark, args)
    segs = tiger_osmline(spark, read_tiger_csv(spark, args.csv), idx.placex)
    segs = checkpoint(segs, args.index, "tiger", inputs=["placex"])
    print(json.dumps({"tiger_segments": segs.count()}))
    return 0


def cmd_status(args) -> int:
    from nominatim_spark.pipeline.lookup import status

    spark = _get_spark(args)
    idx = None
    if args.index:
        idx, _, _ = _load_index(spark, args)
    print(json.dumps(status(spark, idx)))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="nominatim_spark")
    p.add_argument("--cpus", type=int, default=4)
    sub = p.add_subparsers(dest="cmd", required=True)

    imp = sub.add_parser("import", help="build + checkpoint the index")
    imp.add_argument("--place", help="place-schema parquet path")
    imp.add_argument("--synth", action="store_true",
                     help="build the synthetic demo dataset")
    imp.add_argument("--index", required=True, help="checkpoint root")
    imp.set_defaults(fn=cmd_import)

    for name, fn in (("search", cmd_search),):
        s = sub.add_parser(name, help="forward geocode")
        s.add_argument("query", nargs="+")
        s.add_argument("--index", required=True)
        s.add_argument("--format",
                       choices=("json", "geojson", "geocodejson"),
                       default="json")
        s.add_argument("--addressdetails", action="store_true",
                       help="geocodejson: ancestor labels + admin levels")
        s.set_defaults(fn=fn)

    r = sub.add_parser("reverse", help="reverse geocode a point")
    r.add_argument("lat", type=float)
    r.add_argument("lon", type=float)
    r.add_argument("--index", required=True)
    r.add_argument("--format", choices=("json", "geojson", "geocodejson"),
                   default="json")
    r.add_argument("--addressdetails", action="store_true")
    r.set_defaults(fn=cmd_reverse)

    lk = sub.add_parser("lookup", help="resolve osm refs / place ids")
    lk.add_argument("refs", nargs="+")
    lk.add_argument("--index", required=True)
    lk.add_argument("--format", choices=("json", "geojson", "geocodejson"),
                    default="json")
    lk.add_argument("--addressdetails", action="store_true")
    lk.set_defaults(fn=cmd_lookup)

    dt = sub.add_parser("details", help="place details with address chain")
    dt.add_argument("refs", nargs="+")
    dt.add_argument("--index", required=True)
    dt.set_defaults(fn=cmd_details)

    st = sub.add_parser("status", help="engine + index status")
    st.add_argument("--index")
    st.set_defaults(fn=cmd_status)

    tg = sub.add_parser("add-tiger",
                        help="attach TIGER address ranges to an index")
    tg.add_argument("--csv", required=True,
                    help="TIGER csv path or glob (';'-separated)")
    tg.add_argument("--index", required=True)
    tg.set_defaults(fn=cmd_add_tiger)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
