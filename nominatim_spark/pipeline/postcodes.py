"""Postcode table build + postcode query support.

Re-expresses the reference's postcode pipeline
(/root/reference/src/nominatim_db/tools/postcodes.py:181-250):

* gather (country_code, postcode) points from indexed places (a place
  contributes its ``address.postcode`` at its centroid; descendants
  inherit through the containment hierarchy already resolved in placex);
* aggregate per postcode with the 7-digit fixed-point centroid
  (utils/centroid.py:14-48 — integer mean, bit-reproducible, oracle form
  in gate ``centroid_fixedpoint``);
* rank_search from the extent heuristic ``_extent_to_rank``
  (postcodes.py:42-49): <=100 m -> 25, <=3000 m -> 23, else 21;
* postcode-shaped query terms are recognized with per-country patterns
  (the reference's country_settings postcode regexes,
  src/nominatim_api/search/postcode_parser.py:20-104) — here the synthetic
  country 'cv' uses the 5-digit pattern.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from nominatim_spark.grid import EARTH_DEG_M
from nominatim_spark.session import local_rows

# Per-country postcode formats — the reference's full pattern table
# (settings/country_settings.yaml `postcode:` entries; public postal
# format data).  Notation is the reference's: 'd' -> digit, 'l' -> latin
# letter; everything else is literal regex.  The optional output template
# re-assembles the canonical spelling from the capture groups
# (postcode_parser.py:34-48, data/postcode_format.py).
POSTCODE_SETTINGS: dict[str, tuple[str, str | None]] = {
    "ad": ('(ddd)', 'AD\\1'),
    "af": ('dddd', None),
    "ai": ('2640', 'AI-2640'),
    "al": ('dddd', None),
    "am": ('dddd', None),
    "ar": ('l?dddd(?:lll)?', None),
    "at": ('dddd', None),
    "au": ('dddd', None),
    "az": ('dddd', None),
    "ba": ('ddddd', None),
    "bb": ('(ddddd)', 'BB\\1'),
    "bd": ('dddd', None),
    "be": ('dddd', None),
    "bg": ('dddd', None),
    "bh": ('d?ddd', None),
    "bm": ('(ll)[ -]?(dd)', '\\1 \\2'),
    "bn": ('(ll) ?(dddd)', '\\1\\2'),
    "br": ('(ddddd)-?(ddd)', '\\1-\\2'),
    "bt": ('ddddd', None),
    "by": ('dddddd', None),
    "ca": ('(ldl) ?(dld)', '\\1 \\2'),
    "ch": ('dddd', None),
    "cl": ('ddddddd', None),
    "cn": ('dddddd', None),
    "co": ('dddddd', None),
    "cr": ('ddddd', None),
    "cu": ('ddddd', None),
    "cv": ('dddd', None),
    "cy": ('(?:99|d)ddd', None),
    "cz": ('(ddd) ?(dd)', '\\1 \\2'),
    "de": ('ddddd', None),
    "dk": ('dddd', None),
    "do": ('ddddd', None),
    "dz": ('ddddd', None),
    "ec": ('dddddd', None),
    "ee": ('ddddd', None),
    "eg": ('ddddd', None),
    "es": ('ddddd', None),
    "et": ('dddd', None),
    "fi": ('ddddd', None),
    "fk": ('FIQQ 1ZZ', None),
    "fm": ('ddddd', None),
    "fo": ('ddd', None),
    "fr": ('ddddd', None),
    "gb": ('(l?ld[A-Z0-9]?) ?(dll)', '\\1 \\2'),
    "ge": ('dddd', None),
    "gg": ('(GYdd?) ?(dll)', '\\1 \\2'),
    "gh": ('ll-d?ddd-dddd', None),
    "gi": ('(GX11) ?(1AA)', 'GX11 1AA'),
    "gl": ('dddd', None),
    "gn": ('ddd', None),
    "gr": ('(ddd) ?(dd)', '\\1 \\2'),
    "gs": ('(SIQQ) ?(1ZZ)', '\\1 \\2'),
    "gt": ('ddddd', None),
    "gw": ('dddd', None),
    "hn": ('ddddd', None),
    "hr": ('ddddd', None),
    "ht": ('dddd', None),
    "hu": ('dddd', None),
    "id": ('ddddd', None),
    "ie": ('(ldd) ?([0123456789ACDEFHKNPRTVWXY]{4})', '\\1 \\2'),
    "il": ('ddddddd', None),
    "im": ('(IMdd?) ?(dll)', '\\1 \\2'),
    "in": ('(ddd) ?(ddd)', '\\1\\2'),
    "io": ('(BBND) ?(1ZZ)', '\\1 \\2'),
    "iq": ('ddddd', None),
    "ir": ('(ddddd)[-_ ]?(ddddd)', '\\1-\\2'),
    "is": ('ddd', None),
    "it": ('ddddd', None),
    "je": ('(JEdd?) ?(dll)', '\\1 \\2'),
    "jo": ('ddddd', None),
    "jp": ('(ddd)-?(dddd)', '\\1-\\2'),
    "ke": ('ddddd', None),
    "kg": ('dddddd', None),
    "kh": ('dddddd', None),
    "kn": ('dddd', None),
    "kr": ('ddddd', None),
    "kw": ('ddddd', None),
    "ky": ('(d)-(dddd)', 'KY\\1-\\2'),
    "kz": ('(?:lddldld|dddddd)', None),
    "la": ('ddddd', None),
    "lb": ('(dddd)(?: ?dddd)?', None),
    "lc": ('(dd) ?(ddd)', 'LC\\1 \\2'),
    "li": ('dddd', None),
    "lk": ('ddddd', None),
    "lr": ('dddd', None),
    "ls": ('ddd', None),
    "lt": ('ddddd', None),
    "lu": ('dddd', None),
    "lv": ('(dddd)', 'LV-\\1'),
    "ma": ('ddddd', None),
    "mc": ('980dd', None),
    "md": ('(dddd)', 'MD-\\1'),
    "me": ('ddddd', None),
    "mg": ('ddd', None),
    "mh": ('ddddd', None),
    "mk": ('dddd', None),
    "mm": ('ddddd', None),
    "mn": ('ddddd', None),
    "mt": ('(lll) ?(dddd)', '\\1 \\2'),
    "mu": ('ddddd', None),
    "mv": ('ddddd', None),
    "mx": ('ddddd', None),
    "my": ('ddddd', None),
    "mz": ('(dddd)(?:-dd)?', None),
    "na": ('ddddd', None),
    "ne": ('dddd', None),
    "ng": ('dddddd', None),
    "ni": ('ddddd', None),
    "nl": ('(dddd) ?(ll)', '\\1 \\2'),
    "no": ('dddd', None),
    "np": ('ddddd', None),
    "nz": ('dddd', None),
    "om": ('ddd', None),
    "pa": ('dddd', None),
    "pe": ('ddddd', None),
    "pg": ('ddd', None),
    "ph": ('dddd', None),
    "pk": ('ddddd', None),
    "pl": ('(dd)[ -]?(ddd)', '\\1-\\2'),
    "pn": ('(PCRN) ?(1ZZ)', '\\1 \\2'),
    "ps": ('ddd', None),
    "pt": ('dddd(?:-ddd)?', None),
    "pw": ('969(39|40)', None),
    "py": ('dddddd', None),
    "ro": ('dddddd', None),
    "rs": ('ddddd', None),
    "ru": ('dddddd', None),
    "sa": ('ddddd(?:-dddd)?', None),
    "sd": ('ddddd', None),
    "se": ('(ddd) ?(dd)', '\\1 \\2'),
    "sg": ('dddddd', None),
    "sh": ('(ASCN|STHL|TDCU) ?(1ZZ)', '\\1 \\2'),
    "si": ('dddd', None),
    "sk": ('(ddd) ?(dd)', '\\1 \\2'),
    "sm": ('4789d', None),
    "sn": ('ddddd', None),
    "so": ('(ll) ?(ddddd)', '\\1 \\2'),
    "sv": ('dddd', None),
    "sz": ('lddd', None),
    "tc": ('(TKCA) ?(1ZZ)', '\\1 \\2'),
    "th": ('ddddd', None),
    "tj": ('dddddd', None),
    "tm": ('dddddd', None),
    "tn": ('dddd', None),
    "tr": ('ddddd', None),
    "tt": ('dddddd', None),
    "tw": ('ddd(?:ddd?)?', None),
    "tz": ('ddddd', None),
    "ua": ('d?ddddd', None),
    "us": ('(ddddd)(?:-dddd)?', '\\1'),
    "uy": ('ddddd', None),
    "uz": ('dddddd', None),
    "va": ('00120', None),
    "vc": ('(dddd)', 'VC\\1'),
    "ve": ('dddd', None),
    "vg": ('(dddd)', 'VG\\1'),
    "vn": ('ddddd', None),
    "xk": ('ddddd', None),
    "za": ('dddd', None),
    "zm": ('dddd', None),
}
# The synthetic demo country 'cv' is configured with 5-digit postcodes
# (its real-world namesake uses 4) — country_settings is configuration,
# and the synth dataset ships its own.
POSTCODE_SETTINGS["cv"] = ("ddddd", None)


def _expand(pat: str) -> str:
    """'d'/'l' notation -> regex body (postcode_parser.py:37)."""
    return pat.replace("d", "[0-9]").replace("l", "[A-Z]")


# country -> anchored regex (derived compatibility view of the table)
POSTCODE_PATTERNS: dict[str, str] = {
    cc: f"^{_expand(pat)}$" for cc, (pat, _out) in POSTCODE_SETTINGS.items()
}

_ZERO_RE = re.compile(r"[0\- ]+")


def _shift_groups(template: str) -> str:
    """Reference '\\1' output template -> Java '$2' form, group numbers
    shifted by one for the wrapping body group."""
    return re.sub(r"\\(\d)", lambda m: f"${int(m.group(1)) + 1}", template)


def jvm_postcode_rules() -> list[tuple[str, str, str]]:
    """(country_code, anchored_rx, output_template) rows for JVM-side
    normalization: the regex allows an optional country-code prefix and
    wraps the body in group 1; the template is Java replacement syntax.

    ``regexp_replace(pc, rx, out)`` on a matching value yields the
    normalized postcode exactly like the Python parser's ``m.expand``.
    """
    rows = []
    for cc, (pat, out) in POSTCODE_SETTINGS.items():
        body = _expand(pat)
        rx = f"^(?:{cc.upper()}[ -]?)?({body})$"
        rows.append((cc, rx, _shift_groups(out) if out else "$1"))
    return rows


def postcode_dim(spark) -> DataFrame:
    """Broadcastable (country_code, _pc_rx, _pc_out) dimension."""
    return local_rows(
        spark, jvm_postcode_rules(),
        "country_code string, _pc_rx string, _pc_out string",
    )


class PostcodeParser:
    """Country-agnostic postcode recognizer for the query side — the
    reference's PostcodeParser (postcode_parser.py:20-110) without the
    node-walk: one global alternation finds any country's postcode shape
    (with an optional two-letter country prefix), then the per-pattern
    locals normalize via their output template.  All-zero forms are
    rejected (data/postcode_format.py zero handling)."""

    def __init__(self) -> None:
        unique: dict[str, dict[str | None, list[str]]] = {}
        for cc, (pat, out) in POSTCODE_SETTINGS.items():
            body = _expand(pat)
            unique.setdefault(body, {}).setdefault(out, []).append(cc.upper())
        self.global_re = re.compile(
            "(?:(?P<cc>[A-Z][A-Z])[ -]?)?(?P<pc>(?:"
            + ")|(?:".join(unique) + "))")
        self.locals = [(re.compile(body), list(info.items()))
                       for body, info in unique.items()]

    def match_all(self, term: str, country: str | None = None) -> list[str]:
        """EVERY country reading of ``term`` as a normalized postcode —
        the reference's multi-interpretation parse (_match_word,
        postcode_parser.py:85-110, adds one outcode per matching
        (pattern, output) entry: '45325' yields both '45325' and the
        '453 25' of the space-grouped countries).  Readings are distinct,
        identity spelling first, templated expansions after in stable
        sorted order.  ``country`` restricts to one country's format."""
        t = term.upper().strip()
        m = self.global_re.fullmatch(t)
        if m is None:
            return []
        cc, pc_word = m.group("cc"), m.group("pc")
        if country is not None and cc is not None and cc != country.upper():
            return []
        if _ZERO_RE.fullmatch(pc_word):
            return []
        identity = False
        expanded: set[str] = set()
        for pat, info in self.locals:
            lm = pat.fullmatch(pc_word)
            if lm is None:
                continue
            for out, out_ccs in info:
                if cc is not None and cc not in out_ccs:
                    continue
                if country is not None and country.upper() not in out_ccs:
                    continue
                if out is None:
                    identity = True
                else:
                    got = lm.expand(out)
                    if got == pc_word:
                        # template reproduces the raw spelling (e.g. GB
                        # 'EC1R 3HF' through '\1 \2') — that IS the
                        # identity reading
                        identity = True
                    else:
                        expanded.add(got)
        readings = [pc_word] if identity else []
        readings += sorted(expanded)
        return readings

    def match(self, term: str, country: str | None = None) -> str | None:
        """First (canonical) reading of ``term``, else None — the
        single-reading view over :meth:`match_all`."""
        readings = self.match_all(term, country)
        return readings[0] if readings else None


_PARSER: PostcodeParser | None = None


def match_postcode(term: str, country: str | None = None) -> str | None:
    global _PARSER
    if _PARSER is None:
        _PARSER = PostcodeParser()
    return _PARSER.match(term, country)


def match_postcode_all(term: str, country: str | None = None) -> list[str]:
    global _PARSER
    if _PARSER is None:
        _PARSER = PostcodeParser()
    return _PARSER.match_all(term, country)


def with_normalized_postcode(df: DataFrame, pc_expr,
                             out_col: str = "_pc_norm") -> DataFrame:
    """Add ``out_col`` = the country-normalized form of ``pc_expr`` (null
    when the value does not conform to the country's official pattern or
    is all-zero).  One broadcast join against the 161-row pattern
    dimension + column-pattern regexes — all JVM, no Python in the row
    path.  ``df`` must carry ``country_code``."""
    spark = df.sparkSession
    raw = F.upper(F.trim(pc_expr))
    df = df.withColumn("_pc_raw", raw).join(
        F.broadcast(postcode_dim(spark)), "country_code", "left")
    body = F.expr("regexp_extract(_pc_raw, _pc_rx, 1)")
    norm = F.when(
        F.col("_pc_rx").isNotNull() & F.col("_pc_raw").isNotNull()
        & F.expr("_pc_raw rlike _pc_rx")
        & ~body.rlike(r"^[0\- ]+$"),
        F.expr("regexp_replace(_pc_raw, _pc_rx, _pc_out)"),
    ).otherwise(F.lit(None).cast("string"))
    return df.withColumn(out_col, norm).drop("_pc_raw", "_pc_rx", "_pc_out")


def build_postcodes(spark, placex: DataFrame) -> DataFrame:
    """placex -> location_postcodes (country, postcode, centroid, rank).

    The postcode value is run through the same per-country normalization
    the clean-postcodes sanitizer applies (pattern conformance + output
    template + cc-prefix strip), so the postcode table and
    search_name's own-postcode column always agree on the canonical
    spelling — non-conforming values contribute no centroid row (the
    reference's matcher gate in tools/postcodes.py:99-134)."""
    pts = with_normalized_postcode(
        placex.filter(
            F.col("address").getItem("postcode").isNotNull()
            & F.col("country_code").isNotNull()
        ),
        F.col("address").getItem("postcode"),
    ).filter(F.col("_pc_norm").isNotNull()).select(
        "country_code",
        F.col("_pc_norm").alias("postcode"),
        "lon", "lat",
    )
    agg = pts.groupBy("country_code", "postcode").agg(
        F.sum(F.expr("CAST(ROUND((lon + 180.0) * 1e7) AS BIGINT)")).alias("sx"),
        F.sum(F.expr("CAST(ROUND((lat + 90.0) * 1e7) AS BIGINT)")).alias("sy"),
        F.count(F.lit(1)).alias("n"),
        F.max("lon").alias("_xmax"), F.min("lon").alias("_xmin"),
        F.max("lat").alias("_ymax"), F.min("lat").alias("_ymin"),
    )
    extent_m = (
        F.greatest(
            F.col("_xmax") - F.col("_xmin"), F.col("_ymax") - F.col("_ymin")
        )
        * F.lit(EARTH_DEG_M)
    )
    rank = (
        F.when(extent_m <= 100, 25).when(extent_m <= 3000, 23).otherwise(21)
    )
    return agg.select(
        "country_code",
        "postcode",
        (F.expr("sx DIV n") / 1e7 - 180.0).alias("lon"),
        (F.expr("sy DIV n") / 1e7 - 90.0).alias("lat"),
        rank.cast("int").alias("rank_search"),
        F.lit(5).alias("rank_address"),
        F.col("n").alias("n_points"),
    )


def is_postcode_expr(col: str, country: str = "cv"):
    """Column predicate: does the (uppercased) term match the country's
    postcode pattern (postcode_parser.py semantics)."""
    pat = POSTCODE_PATTERNS[country]
    return F.upper(F.col(col)).rlike(pat)


def postcode_search(
    spark,
    postcodes: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "qtext",
    country: str = "cv",
) -> DataFrame:
    """Resolve postcode-shaped queries against the postcode table
    (PostcodeSearch analog, src/nominatim_api/search/db_searches/
    postcode_search.py): exact normalized-postcode equi-join."""
    q = queries.withColumn("_pc", F.upper(F.trim(F.col(text_col)))).filter(
        is_postcode_expr("_pc", country)
    )
    return q.join(
        F.broadcast(postcodes.filter(F.col("country_code") == country)),
        q._pc == postcodes.postcode,
    ).select(
        "query_id",
        "postcode",
        "country_code",
        "lon",
        "lat",
        "rank_search",
        "rank_address",
    )
