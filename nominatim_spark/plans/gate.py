"""Driver-facing correctness-gate queries with DuckDB oracles.

Each entry implements one operator family from SURVEY.md §2 using the
engine's real machinery on the Spark side (cell encoding UDFs, cover joins,
ring-expansion kNN, posting-table semijoins, fixed-point centroids,
ranking folds ...), paired with a plain ANSI-SQL oracle that DuckDB runs
over the same parquet views.  The driver compares row count + schema +
order-insensitive value hash, so:

* every computed column is aliased identically on both sides;
* float aggregation is done in DECIMAL (exact, order-independent) and cast
  to DOUBLE only for output;
* coordinates/geometry are derived arithmetically (see synthgeo.py) so both
  engines see bit-identical doubles.

Registry: :data:`QUERIES` maps name -> (spark_callable, oracle_sql | None).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nominatim_spark import grid
from nominatim_spark.geometry.wkb import box_wkb
from nominatim_spark.operators.spatial import (
    knn_join, point_in_polygon_join, point_in_polygon_join_dist)
from nominatim_spark.plans import synthgeo as sg

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ------------------------------------------------------------------- spatial

_CELL_RES = 5


def q_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell assignment through the engine's vectorized pandas-UDF path.

    The oracle recomputes the cell id with the pure-SQL formula — proving the
    numpy kernel (grid.py encode) is bit-identical to the declared grid.
    """
    
    @F.pandas_udf(T.LongType())
    def cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(grid.encode(lon.to_numpy(), lat.to_numpy(), _CELL_RES))

    pts = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat"
    )
    return (
        pts.withColumn("cell", cell_udf("lon", "lat"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


Q_CELL_SQL = f"""
WITH pts AS ({sg.customer_points_sql()})
SELECT {grid.encode_sql('lon', 'lat', _CELL_RES)} AS cell, COUNT(*) AS n_points
FROM pts GROUP BY 1
"""


def q_pip_cover_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon via cell cover-join + exact WKB recheck (J5/J7).

    Spark side: nation rectangles become real WKB polygons, exploded into
    covering cells, broadcast, equi-joined on cell, then rechecked with the
    vectorized ray-cast kernel.  Oracle: plain BETWEEN containment.
    """
    nat = load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey",
        f"{sg.NATION_LON0} AS lon0",
        f"{sg.NATION_LAT0} AS lat0",
    ).toPandas()
    # Spark parses decimal literals as DECIMAL — coerce to float for WKB
    nat["wkb"] = [
        box_wkb(float(r.lon0), float(r.lat0),
                float(r.lon0) + sg.NATION_W, float(r.lat0) + sg.NATION_H)
        for r in nat.itertuples()
    ]
    polys = nat[["n_nationkey", "wkb"]]

    pts = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat"
    )
    joined = point_in_polygon_join(
        pts, polys, poly_key="n_nationkey", wkb_col="wkb", res=0
    )
    # pandas round-trip widened the key; restore the table's native int32
    return joined.select(F.col("n_nationkey").cast("int"), "c_custkey")


Q_PIP_SQL = f"""
WITH pts AS ({sg.customer_points_sql()}),
     rects AS ({sg.nation_rects_sql()})
SELECT n_nationkey, c_custkey
FROM rects JOIN pts
  ON pts.lon BETWEEN rects.lon0 AND rects.lon1
 AND pts.lat BETWEEN rects.lat0 AND rects.lat1
"""


def q_knn_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-place lookup by iterative cell-ring expansion (J6 kNN).

    Each supplier probe point finds its nearest customer point; the oracle
    is the exhaustive cross-join + window-min.  Proves the expansion
    terminates with the true nearest neighbor.
    """
    probes = load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", f"{sg.SUPP_LON} AS lon", f"{sg.SUPP_LAT} AS lat"
    )
    cands = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat"
    )
    out = knn_join(
        probes, cands, res=0, point_key="s_suppkey", cand_key="c_custkey"
    )
    return out.select("s_suppkey", "c_custkey")


Q_KNN_SQL = f"""
WITH probes AS ({sg.supplier_points_sql()}),
     cands AS ({sg.customer_points_sql()}),
     d AS (
       SELECT s_suppkey, c_custkey,
              (probes.lon - cands.lon) * (probes.lon - cands.lon)
            + (probes.lat - cands.lat) * (probes.lat - cands.lat) AS dist2
       FROM probes CROSS JOIN cands)
SELECT s_suppkey, c_custkey FROM (
  SELECT s_suppkey, c_custkey,
         ROW_NUMBER() OVER (PARTITION BY s_suppkey ORDER BY dist2, c_custkey) AS rn
  FROM d) t
WHERE rn = 1
"""


def q_interpolation_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Housenumber interpolation expansion (W3/J13 arithmetic,
    interpolation.sql:196-374): way -> all housenumbers on it."""
    ways = load(spark, sf_dir, "orders").filter(F.expr(sg.WAY_FILTER)).selectExpr(
        "o_orderkey AS way_id",
        f"{sg.WAY_START} AS startnumber",
        f"{sg.WAY_END} AS endnumber",
    )
    return ways.select(
        "way_id",
        F.explode(F.expr("sequence(startnumber, endnumber, 2)")).alias("hnr"),
    )


Q_INTERP_SQL = f"""
WITH ways AS ({sg.interpolation_ways_sql()})
SELECT way_id, CAST(u.hnr AS BIGINT) AS hnr
FROM ways, LATERAL unnest(generate_series(startnumber, endnumber, 2)) AS u(hnr)
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + step-mod theta join (J13: n BETWEEN start AND end AND
    (n-start) % step = 0), re-expressed as an exact-key equi-join.

    Interval spans here are short (<= 12), so each way explodes into its
    concrete valid housenumbers and the theta join becomes a plain
    equi-join on the number — the 1-D analog of the cell cover-join, and
    the same expansion the reference materializes for interpolations.  For
    wide intervals the engine would switch to coarse bucketing; expansion
    keeps the intermediate at |ways| * span/step instead of
    |queries| * |ways-per-bucket| (measured 9s -> <1s at sf0.1).
    """
    ways = load(spark, sf_dir, "orders").filter(F.expr(sg.WAY_FILTER)).selectExpr(
        "o_orderkey AS way_id",
        f"{sg.WAY_START} AS startnumber",
        f"{sg.WAY_END} AS endnumber",
    )
    expanded = ways.select(
        "way_id",
        F.explode(F.expr("sequence(startnumber, endnumber, 2)")).alias("hnr"),
    )
    # pre-aggregate the probe side by join key BEFORE the join: the output
    # aggregates are distributive over hnr, so the ~20M raw (way, query)
    # matches never materialize — Catalyst does not push aggregations
    # through joins, this restructuring is the engine's job (6.9s -> ~1s)
    qs = (
        load(spark, sf_dir, "lineitem")
        .filter("l_linenumber = 1")
        .selectExpr("l_orderkey % 61 AS hnr")
        .groupBy("hnr")
        .agg(F.count(F.lit(1)).alias("q_cnt"))
    )
    matched = expanded.join(F.broadcast(qs), "hnr")
    return matched.groupBy("way_id").agg(
        F.sum("q_cnt").alias("n_matches"),
        F.count(F.lit(1)).alias("n_distinct_hnr"),
    )


Q_INTERVAL_SQL = f"""
WITH ways AS ({sg.interpolation_ways_sql()}),
     qs AS (SELECT l_orderkey, CAST(l_orderkey % 61 AS INT) AS hnr
            FROM lineitem WHERE l_linenumber = 1)
SELECT way_id, COUNT(*) AS n_matches, COUNT(DISTINCT hnr) AS n_distinct_hnr
FROM ways JOIN qs
  ON qs.hnr BETWEEN ways.startnumber AND ways.endnumber
 AND (qs.hnr - ways.startnumber) % 2 = 0
GROUP BY way_id
"""


def q_centroid_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-digit fixed-point centroid aggregation (A3 — the reference's
    PointsCentroid, utils/centroid.py:14-48): integer mean of
    round(coord * 1e7), exactly reproducible in any engine."""
    pts = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", "c_nationkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat"
    )
    # integer (floor) division keeps both engines exact; coords are shifted
    # positive so floor == trunc everywhere
    return (
        pts.groupBy("c_nationkey")
        .agg(
            F.sum(F.expr("CAST(ROUND((lon + 180.0) * 1e7) AS BIGINT)")).alias("sx"),
            F.sum(F.expr("CAST(ROUND((lat + 90.0) * 1e7) AS BIGINT)")).alias("sy"),
            F.count(F.lit(1)).alias("n"),
        )
        .selectExpr("c_nationkey", "sx DIV n AS cx_fp", "sy DIV n AS cy_fp", "n")
    )


Q_CENTROID_SQL = f"""
WITH pts AS (SELECT c_custkey, c_nationkey, {sg.CUST_LON} AS lon, {sg.CUST_LAT} AS lat FROM customer)
SELECT c_nationkey,
       CAST(SUM(CAST(ROUND((lon + 180.0) * 1e7) AS BIGINT)) // COUNT(*) AS BIGINT) AS cx_fp,
       CAST(SUM(CAST(ROUND((lat + 90.0) * 1e7) AS BIGINT)) // COUNT(*) AS BIGINT) AS cy_fp,
       COUNT(*) AS n
FROM pts GROUP BY c_nationkey
"""


# ------------------------------------------------------------ tokens / text

_TOKENIZE = "filter(split(regexp_replace(lower(text), '[^a-z ]+', ' '), ' '), w -> w <> '')"
_DUCK_TOKENIZE = (
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z ]+', ' ', 'g'), ' '), "
    "w -> w <> '')"
)
_DUCK_TOKS = (
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'), ' '), "
    "w -> w <> '')"
)


def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-frequency statistics (A1 — icu_tokenizer word stats,
    explode + groupBy + deterministic top-100)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.expr(_TOKENIZE)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(100)
    )


Q_WORD_FREQ_SQL = f"""
SELECT w AS word, COUNT(*) AS cnt
FROM documents, LATERAL unnest({_DUCK_TOKENIZE}) AS t(w)
GROUP BY w ORDER BY cnt DESC, word LIMIT 100
"""

_LOOKUP_ALL = ("key", "scan", "merge")
_LOOKUP_ANY = ("vector", "stream", "sketch")


def q_lookup_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LookupAll token semijoin (J1 — name_vector @> tokens via GIN,
    db_search_lookups.py:22-57): explode posting rows, contains-ALL via
    count-distinct == n_tokens."""
    docs = load(spark, sf_dir, "documents")
    toks = list(_LOOKUP_ALL)
    posting = docs.select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TOKENIZE))).alias("word")
    )
    return (
        posting.filter(F.col("word").isin(toks))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nhit"))
        .filter(F.col("nhit") == len(toks))
        .select("doc_id")
    )


Q_LOOKUP_ALL_SQL = f"""
SELECT doc_id FROM (
  SELECT doc_id, COUNT(DISTINCT w) AS nhit
  FROM documents, LATERAL unnest({_DUCK_TOKENIZE}) AS t(w)
  WHERE w IN {_LOOKUP_ALL!r}
  GROUP BY doc_id) s
WHERE nhit = {len(_LOOKUP_ALL)}
"""


def q_lookup_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LookupAny token semijoin (J2 — name_vector && tokens): posting join
    + dropDuplicates."""
    docs = load(spark, sf_dir, "documents")
    posting = docs.select("doc_id", F.explode(F.expr(_TOKENIZE)).alias("word"))
    return (
        posting.filter(F.col("word").isin(list(_LOOKUP_ANY)))
        .select("doc_id")
        .dropDuplicates()
    )


Q_LOOKUP_ANY_SQL = f"""
SELECT DISTINCT doc_id
FROM documents, LATERAL unnest({_DUCK_TOKENIZE}) AS t(w)
WHERE w IN {_LOOKUP_ANY!r}
"""


def q_pip_cover_join_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully distributed point-in-polygon cover join (J5 at planet scale):
    polygon side stays a DataFrame, mapInPandas generates classified
    multi-tier cover cells (interior cells skip the exact recheck), points
    explode per tier and equi-join on cell.  Same oracle as pip_cover_join
    — proves the distributed path bit-equal to the broadcast path."""
    nat = load(spark, sf_dir, "nation").selectExpr(
        "CAST(n_nationkey AS BIGINT) AS n_nationkey",
        f"CAST({sg.NATION_LON0} AS DOUBLE) AS lon0",
        f"CAST({sg.NATION_LAT0} AS DOUBLE) AS lat0",
    )

    def mk_wkb(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "n_nationkey": pdf["n_nationkey"],
                "geometry": [
                    box_wkb(float(x), float(y),
                            float(x) + sg.NATION_W, float(y) + sg.NATION_H)
                    for x, y in zip(pdf["lon0"], pdf["lat0"])
                ],
            })

    polys = nat.mapInPandas(mk_wkb, schema="n_nationkey long, geometry binary")
    pts = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat"
    )
    joined = point_in_polygon_join_dist(
        pts, polys, poly_key="n_nationkey", res_tiers=(0, 4), limit=256,
    )
    return joined.select(F.col("n_nationkey").cast("int"), "c_custkey")


def q_near_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category near-search (J18 — NearSearch, near_search.py:75-135):
    for each supplier anchor, the 3 nearest BUILDING-segment customers
    within 3 degrees, via the disk-cell cover equi-join + exact distance
    filter (never an all-pairs product).  Oracle: brute cross join."""
    from nominatim_spark.operators.spatial import within_distance_join

    anchors = load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", f"{sg.SUPP_LON} AS lon", f"{sg.SUPP_LAT} AS lat"
    )
    cands = load(spark, sf_dir, "customer").filter(
        "c_mktsegment = 'BUILDING'"
    ).selectExpr(
        "c_custkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat"
    )
    hits = within_distance_join(
        anchors, cands, radius_deg=3.0, point_key="s_suppkey",
        cand_key="c_custkey",
    )
    w = Window.partitionBy("s_suppkey").orderBy("dist2", "c_custkey")
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("s_suppkey", "c_custkey", F.col("rnk").cast("int").alias("rnk"))
    )


Q_NEAR_CATEGORY_SQL = f"""
WITH anchors AS ({sg.supplier_points_sql()}),
     cands AS (
       SELECT c_custkey, {sg.CUST_LON} AS lon, {sg.CUST_LAT} AS lat
       FROM customer WHERE c_mktsegment = 'BUILDING'),
     d AS (
       SELECT s_suppkey, c_custkey,
              (anchors.lon - cands.lon) * (anchors.lon - cands.lon)
            + (anchors.lat - cands.lat) * (anchors.lat - cands.lat) AS dist2
       FROM anchors CROSS JOIN cands)
SELECT s_suppkey, c_custkey, rnk FROM (
  SELECT s_suppkey, c_custkey,
         CAST(ROW_NUMBER() OVER (PARTITION BY s_suppkey
                                 ORDER BY dist2, c_custkey) AS INT) AS rnk
  FROM d WHERE dist2 <= 9.0) t
WHERE rnk <= 3
"""


def q_window_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-plus-epsilon window pruning (W1 — first_value over ORDER BY,
    place_search.py:124-131): keep customers within 100 of their nation's
    best account balance."""
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    return (
        cust.withColumn("best", F.max("c_acctbal").over(w))
        .filter(F.col("c_acctbal") >= F.col("best") - 100)
        .select("c_nationkey", "c_custkey", "c_acctbal")
    )


Q_WINDOW_PRUNE_SQL = """
SELECT c_nationkey, c_custkey, c_acctbal FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         MAX(c_acctbal) OVER (PARTITION BY c_nationkey) AS best
  FROM customer) t
WHERE c_acctbal >= best - 100
"""


def q_bbox_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry-collect aggregation (A4 — ST_Collect -> bbox/centroid,
    reverse.py:583-597): per-nation bounding box of customer points."""
    pts = load(spark, sf_dir, "customer").selectExpr(
        "c_nationkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat"
    )
    # cast to DOUBLE: Spark's decimal-literal arithmetic would otherwise
    # surface DECIMAL strings ('-56.995000') vs DuckDB's ('-56.995')
    return pts.groupBy("c_nationkey").agg(
        F.min("lon").cast("double").alias("min_lon"),
        F.min("lat").cast("double").alias("min_lat"),
        F.max("lon").cast("double").alias("max_lon"),
        F.max("lat").cast("double").alias("max_lat"),
    )


Q_BBOX_SQL = f"""
WITH pts AS (SELECT c_nationkey, {sg.CUST_LON} AS lon, {sg.CUST_LAT} AS lat FROM customer)
SELECT c_nationkey, CAST(MIN(lon) AS DOUBLE) AS min_lon, CAST(MIN(lat) AS DOUBLE) AS min_lat,
       CAST(MAX(lon) AS DOUBLE) AS max_lon, CAST(MAX(lat) AS DOUBLE) AS max_lat
FROM pts GROUP BY c_nationkey
"""


def q_min_dist_penalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-distance scalar-subquery penalty (J16 — postcode distance,
    place_search.py:152-158): per supplier, min squared distance to a
    same-nation customer, 2.0 default when none exists."""
    probes = load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", "s_nationkey", f"{sg.SUPP_LON} AS slon", f"{sg.SUPP_LAT} AS slat"
    )
    cands = load(spark, sf_dir, "customer").selectExpr(
        "c_nationkey", f"{sg.CUST_LON} AS clon", f"{sg.CUST_LAT} AS clat"
    )
    d2 = (F.col("slon") - F.col("clon")) * (F.col("slon") - F.col("clon")) + (
        F.col("slat") - F.col("clat")
    ) * (F.col("slat") - F.col("clat"))
    mind = (
        probes.join(cands, probes.s_nationkey == cands.c_nationkey)
        .groupBy("s_suppkey")
        .agg(F.round(F.min(d2), 6).alias("min_d2"))
    )
    return probes.join(mind, "s_suppkey", "left").select(
        "s_suppkey", F.coalesce(F.col("min_d2"), F.lit(2.0)).alias("penalty")
    )


Q_MIN_DIST_SQL = f"""
WITH probes AS (SELECT s_suppkey, s_nationkey, {sg.SUPP_LON} AS slon, {sg.SUPP_LAT} AS slat FROM supplier),
     cands AS (SELECT c_nationkey, {sg.CUST_LON} AS clon, {sg.CUST_LAT} AS clat FROM customer),
     mind AS (
       SELECT s_suppkey, ROUND(MIN((slon - clon) * (slon - clon)
                             + (slat - clat) * (slat - clat)), 6) AS min_d2
       FROM probes JOIN cands ON s_nationkey = c_nationkey
       GROUP BY s_suppkey)
SELECT probes.s_suppkey, COALESCE(min_d2, 2.0) AS penalty
FROM probes LEFT JOIN mind ON probes.s_suppkey = mind.s_suppkey
"""


def q_array_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-merge (U2 — array_merge dedup union, utils.sql:41-63):
    token set unioned with a constant vocabulary, distinct size."""
    docs = load(spark, sf_dir, "documents")
    vocab = F.array(*[F.lit(w) for w in ("spark", "query", "zeta", "omega")])
    toks = F.expr(_TOKENIZE)
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(F.concat(toks, vocab))).cast("long").alias("n_merged"),
        F.size(F.array_intersect(F.array_distinct(toks), vocab)).cast("long").alias("n_common"),
    )


Q_ARRAY_MERGE_SQL = f"""
SELECT doc_id,
       CAST(len(list_distinct(list_concat({_DUCK_TOKS},
            ['spark', 'query', 'zeta', 'omega']))) AS BIGINT) AS n_merged,
       CAST(len(list_intersect(list_distinct({_DUCK_TOKS}),
            ['spark', 'query', 'zeta', 'omega'])) AS BIGINT) AS n_common
FROM documents
"""


def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-agg of candidate ids (A2 — ArrayAgg(place_id),
    address_search.py:51-52): per customer, sorted order ids."""
    orders = load(spark, sf_dir, "orders")
    # emit the sorted id list as a comma-joined string: the driver's
    # canonicalizer sorts result frames through pandas, which cannot hash
    # array cells (round-1 gate failure) — the aggregate itself (A2) is
    # unchanged, only the wire format is scalar.
    return orders.groupBy("o_custkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey")))
        .alias("order_ids"),
        F.count(F.lit(1)).alias("n_orders"),
    )


Q_COLLECT_SQL = """
SELECT o_custkey,
       list_aggregate(list_sort(list(o_orderkey)), 'string_agg', ',')
           AS order_ids,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
"""


# ------------------------------------------------- geocoding pipeline (weak)

def q_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff-replay incremental index update (streaming/updates.py):
    build a small index, merge a 2-row diff (new house + new POI) plus a
    delete, geocode against the merged index.  Non-SQL-expressible —
    rows-only check; merge semantics are asserted in tests/test_updates.py.
    Expected rows: the new house resolves, the deleted POI is gone."""
    import pandas as pd

    from nominatim_spark.geometry.wkb import point_wkb
    from nominatim_spark.pipeline.search import geocode
    from nominatim_spark.plans.flagship import build_synth_index
    from nominatim_spark.sources import synth
    from nominatim_spark.streaming.updates import apply_place_updates

    idx, _ = build_synth_index(
        spark, n_cities=2, n_streets=2, n_houses=2, n_pois=1,
        ckpt_root="/tmp/nominatim_gate_upd_ckpt_v2", resume=True,
    )
    cx, cy = synth.city_center(0)
    y = cy - 0.1
    upd_pdf = pd.DataFrame([{
        "osm_type": "N", "osm_id": 9200001, "class": "building",
        "type": "yes", "admin_level": None, "name": {},
        "address": {"housenumber": "77", "street": synth.street_name(0, 0)},
        "extratags": {}, "geometry": point_wkb(cx + 0.02, y + 0.0004),
        "categories": None,
    }, {
        "osm_type": "N", "osm_id": 9200002, "class": "amenity",
        "type": "restaurant", "admin_level": None,
        "name": {"name": "Cafe Delta"}, "address": {},
        "extratags": {}, "geometry": point_wkb(cx + 0.03, cy + 0.02),
        "categories": None,
    }])
    upd_pdf["admin_level"] = pd.Series([None, None], dtype=object)
    updates = spark.createDataFrame(upd_pdf, schema=synth.PLACE_SCHEMA)
    deletes = spark.createDataFrame(
        [("N", 100000)], "osm_type string, osm_id long"
    )
    idx2 = apply_place_updates(spark, idx, updates, deletes=deletes)
    q = spark.createDataFrame(
        [("new_house", f"{synth.street_name(0, 0)} 77, {synth.city_name(0)}"),
         ("new_poi", f"Cafe Delta, {synth.city_name(0)}"),
         ("deleted", f"{synth.poi_name(0, 0)}, {synth.city_name(0)}")],
        "query_id string, qtext string",
    )
    return geocode(spark, idx2, q).select(
        "query_id", "osm_type", "osm_id", "class", "type", "housenumber"
    )


def q_geocode_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end: synth pages -> extraction -> batch forward
    geocode against the engine-built index.  Non-SQL-expressible (full
    Nominatim index-build semantics) — driver records a rows-only check;
    row-for-row accuracy is asserted against ground truth in
    tests/test_pipeline.py::test_forward_geocode_accuracy."""
    from nominatim_spark.plans.flagship import geocode_pages

    res = geocode_pages(
        spark, n_pages=400, n_cities=4, n_streets=4, n_houses=4, n_pois=2
    )
    return res.select(
        "query_id", "url", "qtext", "osm_type", "osm_id", "class", "type",
        "rank_address", "housenumber", "lon", "lat",
    )


def q_weigh_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weigh_search ranking fold (F16/W-family — ranking.sql:327-345):
    each 'candidate' carries a sorted id vector; an ordered ranking list
    charges the first penalty whose token set the vector fully contains,
    else the default weight.  Vector = the order's distinct partkeys."""
    li = load(spark, sf_dir, "lineitem")
    vec = li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey")))
        .alias("vec")
    )
    return vec.select(
        F.col("l_orderkey").alias("orderkey"),
        F.when(
            F.expr("array_contains(vec, 1L) AND array_contains(vec, 2L)"),
            F.lit(0.1),
        ).when(F.expr("array_contains(vec, 3L)"), F.lit(0.3))
        .otherwise(F.lit(0.5)).alias("penalty"),
    )


Q_WEIGH_SEARCH_SQL = """
SELECT l_orderkey AS orderkey,
       CASE WHEN list_contains(vec, 1) AND list_contains(vec, 2)
              THEN CAST(0.1 AS DOUBLE)
            WHEN list_contains(vec, 3) THEN CAST(0.3 AS DOUBLE)
            ELSE CAST(0.5 AS DOUBLE) END AS penalty
FROM (SELECT l_orderkey, list_distinct(list(l_partkey)) AS vec
      FROM lineitem GROUP BY 1)
"""


def q_addr_ladder_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-path address ranking ladder fold (F16/round-4 —
    db_search_builder.py:314-366 get_addr_ranking + weigh_search): each
    'candidate' carries a sorted id vector; a per-phrase LADDER of
    (penalty, id-set) entries charges the cheapest entry whose ids the
    vector fully contains, else the phrase default.  Same single-pass
    aggregate expression as pipeline/search.py's candidate fold.
    Ladder: whole phrase [1,2] at 0.0, single-word paths [1]/[2] at 0.1,
    default 0.4."""
    li = load(spark, sf_dir, "lineitem")
    vec = li.groupBy("l_orderkey").agg(
        F.array_sort(F.array_distinct(F.collect_list("l_partkey")))
        .alias("vec")
    )
    ladder = (
        "array(struct(CAST(0.4 AS DOUBLE) AS dflt, array("
        "struct(CAST(0.0 AS DOUBLE) AS pen, array(1L, 2L) AS ids), "
        "struct(CAST(0.1 AS DOUBLE) AS pen, array(1L) AS ids), "
        "struct(CAST(0.1 AS DOUBLE) AS pen, array(2L) AS ids)"
        ") AS entries))"
    )
    return vec.select(
        F.col("l_orderkey").alias("orderkey"),
        F.expr(
            f"aggregate({ladder}, 0.0D, (acc, ph) -> acc + "
            "aggregate(ph.entries, ph.dflt, (best, e) -> "
            "IF(e.pen < best AND forall(e.ids, i -> "
            "array_contains(vec, i)), e.pen, best)))"
        ).alias("penalty"),
    )


Q_ADDR_LADDER_SQL = """
SELECT l_orderkey AS orderkey,
       CASE WHEN list_contains(vec, 1) AND list_contains(vec, 2)
              THEN CAST(0.0 AS DOUBLE)
            WHEN list_contains(vec, 1) OR list_contains(vec, 2)
              THEN CAST(0.1 AS DOUBLE)
            ELSE CAST(0.4 AS DOUBLE) END AS penalty
FROM (SELECT l_orderkey, list_distinct(list(l_partkey)) AS vec
      FROM lineitem GROUP BY 1)
"""


def q_postcode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-country postcode normalization, JVM column-pattern path
    (F8/round-4 — postcodes.with_normalized_postcode: 161-row pattern
    dim join + rlike/regexp_replace with output templates).  Synthetic
    cc-prefixed values from customer phone digits: country 'de' rows
    conform (5 digits, prefix strips), country 'ad' rows do not (3-digit
    format) and normalize to NULL."""
    from nominatim_spark.pipeline.postcodes import with_normalized_postcode

    cust = load(spark, sf_dir, "customer")
    digits = F.lpad(((F.col("c_custkey") * 7919) % 100000)
                    .cast("string"), 5, "0")
    df = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_custkey") % 2 == 0, "de").otherwise("ad")
        .alias("country_code"),
        F.concat(
            F.when(F.col("c_custkey") % 2 == 0, "DE-").otherwise("AD-"),
            digits,
        ).alias("raw_pc"),
    )
    return with_normalized_postcode(df, F.col("raw_pc")).select(
        "custkey", F.col("_pc_norm").alias("postcode"),
    )


Q_POSTCODE_NORM_SQL = r"""
SELECT c_custkey AS custkey,
       CASE WHEN c_custkey % 2 = 0
              AND NOT regexp_full_match(
                    lpad(CAST((c_custkey * 7919) % 100000 AS VARCHAR), 5, '0'),
                    '[0\- ]+')
            THEN lpad(CAST((c_custkey * 7919) % 100000 AS VARCHAR), 5, '0')
            ELSE NULL END AS postcode
FROM customer
"""


def q_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse-geocode every page coordinate through the tiered cascade
    (kNN ring expansion -> PiP areas -> country)."""
    from nominatim_spark.plans.flagship import build_synth_index, reverse_pages
    from nominatim_spark.sources import synth

    idx, _ = build_synth_index(
        spark, n_cities=4, n_streets=4, n_houses=4, n_pois=2
    )
    pages = synth.pages_df(
        spark, n_pages=400, n_cities=4, n_streets=4, n_houses=4, n_pois=2
    )
    return reverse_pages(spark, idx, pages).select(
        "point_id", "place_id", "tier", "osm_type", "osm_id", "class",
        "rank_address", "country_code",
    )


# ------------------------------------------------------------------ registry

def q_locale_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accept-language display-name selection (the reference's Locales,
    localization.py:16-120): customers carry a synthetic multilingual
    name map; the Locales coalesce kernel — the SAME expression the API
    output path uses — picks per the caller's q-weighted priority list
    ('fr;q=0.8,de' -> de first, then fr, then the default tag)."""
    from nominatim_spark.pipeline.localization import Locales

    cust = load(spark, sf_dir, "customer")
    named = cust.withColumn(
        "name",
        F.expr(
            "map_filter(map("
            "'name', c_name, "
            "'name:de', CASE WHEN c_custkey % 3 = 0 "
            "THEN 'DE ' || c_name END, "
            "'_place_name:fr', CASE WHEN c_custkey % 5 = 0 "
            "THEN 'FR ' || c_name END"
            "), (k, v) -> v IS NOT NULL)"
        ),
    )
    loc = Locales.from_accept_languages("fr;q=0.8,de")
    return named.select(
        "c_custkey", loc.display_name_expr("name").alias("locale_name"))


Q_LOCALE_SQL = """
SELECT c_custkey,
       COALESCE(CASE WHEN c_custkey % 3 = 0 THEN 'DE ' || c_name END,
                CASE WHEN c_custkey % 5 = 0 THEN 'FR ' || c_name END,
                c_name) AS locale_name
FROM customer
"""


def q_geom_geojson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry output serialization (polygon_geojson, v1/helpers.py:76-82
    / serialize.py): per-nation bbox ring -> polygon WKB -> the
    PRODUCTION GeoJSON serializer -> parsed ring coordinates.  The oracle
    computes the corner sequence independently, so a mismatch anywhere in
    the WKB build / serialize / parse round-trip surfaces."""
    import pandas as pd

    from nominatim_spark.geometry.serialize import serialize_wkb
    from nominatim_spark.geometry.wkb import polygon_wkb

    pts = load(spark, sf_dir, "customer").selectExpr(
        "c_nationkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat")
    boxes = pts.groupBy("c_nationkey").agg(
        F.round(F.min("lon"), 5).alias("minx"),
        F.round(F.min("lat"), 5).alias("miny"),
        F.round(F.max("lon"), 5).alias("maxx"),
        F.round(F.max("lat"), 5).alias("maxy"),
    )

    @F.pandas_udf("string")
    def to_gj(minx: pd.Series, miny: pd.Series, maxx: pd.Series,
              maxy: pd.Series) -> pd.Series:
        return pd.Series([
            serialize_wkb(polygon_wkb(
                [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]),
                "geojson")
            for x0, y0, x1, y1 in zip(minx, miny, maxx, maxy)
        ])

    parsed = boxes.withColumn(
        "_g",
        F.from_json(to_gj("minx", "miny", "maxx", "maxy"),
                    "type string, coordinates array<array<array<double>>>"),
    )
    return parsed.select(
        "c_nationkey",
        F.posexplode(F.col("_g.coordinates").getItem(0)),
    ).select(
        "c_nationkey", F.col("pos").alias("pt_idx"),
        F.col("col").getItem(0).alias("lon"),
        F.col("col").getItem(1).alias("lat"),
    )


Q_GEOM_SQL = f"""
WITH pts AS (
  SELECT c_nationkey, {sg.CUST_LON} AS lon, {sg.CUST_LAT} AS lat
  FROM customer),
b AS (
  SELECT c_nationkey,
         ROUND(MIN(lon), 5) AS minx, ROUND(MIN(lat), 5) AS miny,
         ROUND(MAX(lon), 5) AS maxx, ROUND(MAX(lat), 5) AS maxy
  FROM pts GROUP BY c_nationkey)
SELECT c_nationkey, i AS pt_idx,
       CASE i WHEN 0 THEN minx WHEN 1 THEN maxx WHEN 2 THEN maxx
              WHEN 3 THEN minx ELSE minx END AS lon,
       CASE i WHEN 0 THEN miny WHEN 1 THEN miny WHEN 2 THEN maxy
              WHEN 3 THEN maxy ELSE miny END AS lat
FROM b CROSS JOIN (SELECT UNNEST([0, 1, 2, 3, 4]) AS i) u
"""


def q_postcode_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-country postcode interpretation (round-5 —
    postcode_parser.py:72-110 keeps EVERY country's reading of an
    un-prefixed code): synthetic digit codes of three shapes join the
    161-pattern dimension; all matching countries are kept per code, the
    engine's pc_all shape.  The broadcast nested-loop against the tiny
    dim is the scale path — candidate volume never fans out."""
    from nominatim_spark.pipeline.postcodes import postcode_dim

    cust = load(spark, sf_dir, "customer")
    codes = cust.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.lpad(((F.col("c_custkey") * 7919) % 10000)
                   .cast("string"), 4, "0"),
        ).when(
            F.col("c_custkey") % 3 == 1,
            F.lpad(((F.col("c_custkey") * 7919) % 100000)
                   .cast("string"), 5, "0"),
        ).otherwise(
            F.lpad(((F.col("c_custkey") * 131) % 10000000)
                   .cast("string"), 7, "0"),
        ).alias("code"),
    )
    dim = F.broadcast(postcode_dim(spark))
    hits = codes.join(dim, F.expr("code rlike _pc_rx"))
    return hits.groupBy("c_custkey", "code").agg(
        F.sort_array(F.collect_set("country_code")).alias("countries"),
        F.countDistinct("country_code").alias("n_readings"),
    )


def _q_postcode_multi_sql() -> str:
    from nominatim_spark.pipeline.postcodes import jvm_postcode_rules

    values = ",\n  ".join(
        f"('{cc}', '{rx}')" for cc, rx, _out in jvm_postcode_rules()
    )
    return f"""
WITH dim(country_code, rx) AS (VALUES
  {values}),
codes AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0
              THEN lpad(CAST((c_custkey * 7919) % 10000 AS VARCHAR), 4, '0')
              WHEN c_custkey % 3 = 1
              THEN lpad(CAST((c_custkey * 7919) % 100000 AS VARCHAR), 5, '0')
              ELSE lpad(CAST((c_custkey * 131) % 10000000 AS VARCHAR), 7, '0')
         END AS code
  FROM customer)
SELECT c_custkey, code,
       list_sort(list(DISTINCT country_code)) AS countries,
       COUNT(DISTINCT country_code) AS n_readings
FROM codes JOIN dim ON regexp_full_match(code, rx)
GROUP BY c_custkey, code
"""


def q_reverse_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage reverse refinement (T5 round-4/5 tiers — a STREET
    winner refines to its nearest CHILD house within the house radius,
    reverse.py:242-320): suppliers act as streets, customers as houses
    parented to their nearest street; each probe finds the nearest
    street within 0.006°, then the nearest house OF THAT STREET within
    0.001° answers when one exists.  Both knn stages run the engine's
    cell-ring expansion; the refinement is the same min_by-within-radius
    join the reverse tier uses."""
    streets = load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", f"{sg.SUPP_LON} AS lon", f"{sg.SUPP_LAT} AS lat")
    houses = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{sg.CUST_LON} AS lon", f"{sg.CUST_LAT} AS lat")
    # parent each house to its nearest street (the index-build parenting)
    parents = knn_join(
        houses, streets.selectExpr("s_suppkey AS parent", "lon", "lat"),
        res=0, point_key="c_custkey", cand_key="parent",
    ).select("c_custkey", "parent")
    # probes: every 3rd supplier, nudged off-center
    probes = streets.filter(F.col("s_suppkey") % 3 == 0).select(
        F.col("s_suppkey").alias("probe_id"),
        (F.col("lon") + 0.0004).alias("lon"),
        (F.col("lat") + 0.0003).alias("lat"),
    )
    t1 = knn_join(
        probes, streets.selectExpr("s_suppkey AS street", "lon", "lat"),
        res=0, point_key="probe_id", cand_key="street",
    ).filter(F.col("dist2") <= 0.006 ** 2).select("probe_id", "street")
    hs = houses.join(parents, "c_custkey").select(
        F.col("parent").alias("street"), "c_custkey",
        F.col("lon").alias("h_lon"), F.col("lat").alias("h_lat"))
    refined = (
        t1.join(probes, "probe_id").join(hs, "street")
        .withColumn("_d2", (F.col("h_lon") - F.col("lon")) ** 2
                    + (F.col("h_lat") - F.col("lat")) ** 2)
        .filter(F.col("_d2") <= 0.001 ** 2)
        .groupBy("probe_id")
        .agg(F.expr("min_by(c_custkey, struct(_d2, c_custkey))")
             .alias("house"))
    )
    return (
        t1.join(refined, "probe_id", "left")
        .select(
            "probe_id", "street", "house",
            F.when(F.col("house").isNotNull(), "house")
            .otherwise("street").alias("tier"),
        )
    )


Q_REVERSE_REFINE_SQL = f"""
WITH streets AS ({sg.supplier_points_sql()}),
     houses AS ({sg.customer_points_sql()}),
     parents AS (
       SELECT c_custkey, parent FROM (
         SELECT h.c_custkey, s.s_suppkey AS parent,
                ROW_NUMBER() OVER (
                  PARTITION BY h.c_custkey
                  ORDER BY (h.lon - s.lon) * (h.lon - s.lon)
                         + (h.lat - s.lat) * (h.lat - s.lat), s.s_suppkey
                ) AS rn
         FROM houses h CROSS JOIN streets s) t
       WHERE rn = 1),
     probes AS (
       SELECT s_suppkey AS probe_id, lon + 0.0004 AS lon,
              lat + 0.0003 AS lat
       FROM streets WHERE s_suppkey % 3 = 0),
     t1 AS (
       SELECT probe_id, street FROM (
         SELECT p.probe_id, s.s_suppkey AS street,
                (p.lon - s.lon) * (p.lon - s.lon)
              + (p.lat - s.lat) * (p.lat - s.lat) AS d2,
                ROW_NUMBER() OVER (
                  PARTITION BY p.probe_id
                  ORDER BY (p.lon - s.lon) * (p.lon - s.lon)
                         + (p.lat - s.lat) * (p.lat - s.lat), s.s_suppkey
                ) AS rn
         FROM probes p CROSS JOIN streets s) t
       WHERE rn = 1 AND d2 <= 0.006 * 0.006),
     refined AS (
       SELECT probe_id, house FROM (
         SELECT t1.probe_id, h.c_custkey AS house,
                ROW_NUMBER() OVER (
                  PARTITION BY t1.probe_id
                  ORDER BY (h.lon - p.lon) * (h.lon - p.lon)
                         + (h.lat - p.lat) * (h.lat - p.lat), h.c_custkey
                ) AS rn
         FROM t1
         JOIN probes p ON p.probe_id = t1.probe_id
         JOIN parents pa ON pa.parent = t1.street
         JOIN houses h ON h.c_custkey = pa.c_custkey
         WHERE (h.lon - p.lon) * (h.lon - p.lon)
             + (h.lat - p.lat) * (h.lat - p.lat) <= 0.001 * 0.001) t
       WHERE rn = 1)
SELECT t1.probe_id, t1.street, refined.house,
       CASE WHEN refined.house IS NOT NULL THEN 'house'
            ELSE 'street' END AS tier
FROM t1 LEFT JOIN refined ON refined.probe_id = t1.probe_id
"""


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "cell_assign": (q_cell_assign, Q_CELL_SQL),
    "pip_cover_join": (q_pip_cover_join, Q_PIP_SQL),
    "knn_reverse": (q_knn_reverse, Q_KNN_SQL),
    "interpolation_expand": (q_interpolation_expand, Q_INTERP_SQL),
    "interval_join": (q_interval_join, Q_INTERVAL_SQL),
    "centroid_fixedpoint": (q_centroid_fixedpoint, Q_CENTROID_SQL),
    "word_freq": (q_word_freq, Q_WORD_FREQ_SQL),
    "lookup_all": (q_lookup_all, Q_LOOKUP_ALL_SQL),
    "lookup_any": (q_lookup_any, Q_LOOKUP_ANY_SQL),
    "weigh_search_fold": (q_weigh_search, Q_WEIGH_SEARCH_SQL),
    "pip_cover_join_dist": (q_pip_cover_join_dist, Q_PIP_SQL),
    "near_category_join": (q_near_category, Q_NEAR_CATEGORY_SQL),
    "window_prune_epsilon": (q_window_prune, Q_WINDOW_PRUNE_SQL),
    "bbox_agg": (q_bbox_agg, Q_BBOX_SQL),
    "min_dist_penalty": (q_min_dist_penalty, Q_MIN_DIST_SQL),
    "array_merge": (q_array_merge, Q_ARRAY_MERGE_SQL),
    "collect_sorted": (q_collect_sorted, Q_COLLECT_SQL),
    "addr_ladder_fold": (q_addr_ladder_fold, Q_ADDR_LADDER_SQL),
    "postcode_normalize_jvm": (q_postcode_normalize, Q_POSTCODE_NORM_SQL),
    "locale_pick": (q_locale_pick, Q_LOCALE_SQL),
    "geom_geojson_roundtrip": (q_geom_geojson, Q_GEOM_SQL),
    "postcode_multi_country": (q_postcode_multi, _q_postcode_multi_sql()),
    "reverse_refine_tiers": (q_reverse_refine, Q_REVERSE_REFINE_SQL),
    "geocode_pages_e2e": (q_geocode_pages, None),
    "reverse_geocode_e2e": (q_reverse_geocode, None),
    "incremental_update_e2e": (q_incremental_update, None),
}
