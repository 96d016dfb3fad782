"""Rank assignment — ``compute_place_rank`` as a declarative Spark stage.

Re-expresses /root/reference/lib-sql/functions/ranking.sql:176-277 (the
category->rank candidate loop with its selection rule) as: explode categories
-> broadcast-join the address-levels table with specificity priority ->
candidate special-casing -> struct-min selection per place.  The plpgsql
per-row loop becomes one shuffle-free(ish) job: the levels table is ~170 rows
(broadcast), the explode multiplies rows by |categories| (typically 1-2), and
the final groupBy is on the place key.

Selection semantics (ranking.sql:252-266), encoded as a sortable struct:
  * candidates with address rank > 0 win over address rank 0 ("fallback");
  * among positive: lowest address rank, then lowest search rank;
  * among zero: lowest search rank;
  * nothing matched: (99, 99);
  * ``capital=yes`` subtracts 1 from the winner's search rank;
  * waterway relations get search rank - 1 per candidate (:246-248).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nominatim_spark.pipeline.address_levels import (
    COUNTRY_LEVELS, DEFAULT_LEVELS)
from nominatim_spark.session import local_rows


def backfill_categories(df: DataFrame, class_col: str = "class",
                        type_col: str = "type",
                        out: str = "categories") -> DataFrame:
    """Derive ``categories`` from class/type when empty.

    Mirrors placex_triggers.sql:786-801 (hyphens -> underscores, invalid
    chars -> 'yes', invalid class -> 'place').
    """
    cls = F.when(
        F.col(class_col).rlike("^[A-Za-z0-9_-]+$"),
        F.regexp_replace(F.col(class_col), "-", "_"),
    ).otherwise(F.lit("place"))
    typ = F.when(
        (F.col(type_col) != "") & F.col(type_col).rlike("^[A-Za-z0-9_-]+$"),
        F.regexp_replace(F.col(type_col), "-", "_"),
    ).otherwise(F.lit("yes"))
    return df.withColumn(
        out,
        F.when(
            F.col(out).isNull() | (F.size(out) == 0),
            F.array(F.concat(F.lit("osm."), cls, F.lit("."), typ)),
        ).otherwise(F.col(out)),
    )


def compute_place_rank(
    df: DataFrame,
    *,
    key: str = "place_id",
    country: str = "country_code",
    extended_type: str = "extended_type",
    categories: str = "categories",
    admin_level: str = "admin_level",
    is_major: str = "is_major",
    out_search: str = "rank_search",
    out_address: str = "rank_address",
) -> DataFrame:
    """Compute (rank_search, rank_address) per input row.

    ``extended_type`` must already be 'A' for areal geometries, else the osm
    type (placex_triggers.sql:862-868).  Returns ``key`` + the two ranks.
    """
    spark = df.sparkSession
    levels = local_rows(
        spark, DEFAULT_LEVELS + COUNTRY_LEVELS,
        "lv_country string, lv_class string, lv_type string, "
        "lv_search long, lv_address long")

    base = df.select(
        key,
        F.col(country).alias("_cc"),
        F.col(extended_type).alias("_ext"),
        F.col(categories).alias("_cats"),
        F.coalesce(F.col(admin_level), F.lit(15)).alias("_adm"),
        F.coalesce(F.col(is_major), F.lit(False)).alias("_major"),
    )
    has_ba = F.exists(
        "_cats", lambda c: (c == "osm.boundary.administrative")
        | c.startswith("osm.boundary.administrative.")
    )
    cand = (
        base.withColumn("_has_ba", has_ba)
        .withColumn("_cat", F.explode("_cats"))
        .filter(F.col("_cat").startswith("osm."))
        .filter(~(F.col("_has_ba") & F.col("_cat").startswith("osm.place")))
        .withColumn("_class", F.split("_cat", "\\.").getItem(1))
        .withColumn("_type", F.split("_cat", "\\.").getItem(2))
        .withColumn(
            "_classtype",
            F.when(
                (F.col("_class") == "boundary") & (F.col("_type") == "administrative"),
                F.concat(F.col("_type"), F.col("_adm").cast("string")),
            ).otherwise(F.col("_type")),
        )
    )

    # levels lookup with specificity priority: country-specific beats
    # wildcard, exact type beats wildcard (ranking.sql:236-241 ORDER BY)
    joined = cand.join(
        F.broadcast(levels),
        (levels.lv_class == cand._class)
        & (levels.lv_type.isNull() | (levels.lv_type == cand._classtype))
        & (levels.lv_country.isNull() | (levels.lv_country == cand._cc)),
        "left",
    )
    w = Window.partitionBy(key, "_cat").orderBy(
        F.col("lv_country").isNull().cast("int"),
        F.col("lv_type").isNull().cast("int"),
    )
    best_level = joined.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )

    # candidate ranks with the short-circuit special cases
    # (ranking.sql:219-248)
    special_3030 = (
        ((F.col("_ext") == "N") & (F.col("_class") == "highway"))
        | ((F.col("_class") == "landuse") & (F.col("_ext") != "A"))
    )
    cand_search = (
        F.when(special_3030, F.lit(30))
        .otherwise(F.coalesce(F.col("lv_search"), F.lit(30)))
        + F.when(
            (F.col("_class") == "waterway") & (F.col("_ext") == "R") & ~special_3030,
            F.lit(-1),
        ).otherwise(F.lit(0))
    )
    cand_address = F.when(special_3030, F.lit(30)).otherwise(
        F.coalesce(F.col("lv_address"), F.lit(30))
    )
    scored = best_level.select(
        key,
        "_major",
        cand_search.alias("_cs"),
        cand_address.alias("_ca"),
    ).withColumn(
        "_prio",
        F.struct(
            F.when(F.col("_ca") > 0, F.lit(0)).otherwise(F.lit(1)).alias("tier"),
            F.when(F.col("_ca") > 0, F.col("_ca")).otherwise(F.lit(0)).alias("addr"),
            F.col("_cs").alias("search"),
        ),
    )

    winner = scored.groupBy(key).agg(
        F.min("_prio").alias("_best"), F.first("_major").alias("_major")
    )
    ranked = winner.select(
        key,
        (
            F.col("_best.search") - F.col("_major").cast("int")
        ).alias(out_search),
        F.when(F.col("_best.tier") == 0, F.col("_best.addr"))
        .otherwise(F.lit(0))
        .alias(out_address),
    )

    # rows whose categories produced no osm.* candidate keep (99, 99)
    # minus the capital boost, matching the plpgsql defaults
    all_keys = base.select(key, "_major")
    return (
        all_keys.join(ranked, key, "left")
        .select(
            key,
            F.coalesce(
                F.col(out_search), F.lit(99) - F.col("_major").cast("int")
            ).alias(out_search),
            F.coalesce(F.col(out_address), F.lit(99)).alias(out_address),
        )
    )
