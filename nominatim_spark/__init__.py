"""nominatim_spark — a from-scratch PySpark-native geocoding & spatial-join engine.

Re-creates the query semantics and data model of the reference geocoder
(ehtick/Nominatim: PostgreSQL/PostGIS index build + Python search API) as an
idiomatic Spark engine: DataFrame/SQL plans, broadcast hash joins on
hierarchical grid-cell keys, vectorized pandas/Arrow UDFs for geometry and
text normalization, per-stage parquet checkpoints with lineage manifests.

Nothing here is a port: the reference tells us WHAT to compute (operators,
ranks, token semantics — see SURVEY.md §2 with file:line citations in each
module); the HOW is Spark-first.
"""

__version__ = "0.2.0"

from nominatim_spark.session import get_spark  # noqa: F401


def __getattr__(name):  # lazy re-exports: keep import light, surface rich
    _API = {
        "build_index": ("nominatim_spark.pipeline.placex", "build_index"),
        "geocode": ("nominatim_spark.pipeline.search", "geocode"),
        "geocode_all": ("nominatim_spark.pipeline.search", "geocode_all"),
        "geocode_structured": ("nominatim_spark.pipeline.search",
                               "geocode_structured"),
        "near_search": ("nominatim_spark.pipeline.search", "near_search"),
        "reverse_geocode": ("nominatim_spark.pipeline.reverse",
                            "reverse_geocode"),
        "apply_place_updates": ("nominatim_spark.streaming.updates",
                                "apply_place_updates"),
        "build_postcodes": ("nominatim_spark.pipeline.postcodes",
                            "build_postcodes"),
        "lookup_places": ("nominatim_spark.pipeline.lookup",
                          "lookup_places"),
        "place_details": ("nominatim_spark.pipeline.lookup",
                          "place_details"),
        "status": ("nominatim_spark.pipeline.lookup", "status"),
    }
    if name in _API:
        import importlib

        mod, attr = _API[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'nominatim_spark' has no attribute {name!r}")
