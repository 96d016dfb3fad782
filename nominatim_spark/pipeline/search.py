"""Batch forward geocoding — the reference's search executor, set-at-a-time.

The reference geocodes one query at a time: analyze (icu_tokenizer.py),
enumerate token assignments (token_assignment.py), build SQL per search
plan (db_search_builder.py), run penalty-ordered plans with early exit
(geocoder.py:120-162).  Our engine's north star is *batch* geocoding of
millions of extracted strings, so the per-query planner loop becomes one
DataFrame DAG over all queries at once:

1. parse: every query explodes into its token-role ASSIGNMENTS
   (token_assignment.py re-expression): comma-phrased queries keep one
   aligned reading at penalty 0; un-phrased queries enumerate
   forward/backward name–address splits, housenumber and postcode roles,
   each with the reference's penalty constants
2. tokenize: the same normalize→transliterate pipeline as the index side
   (the INDEX side additionally expands abbreviation variants, so
   "Birch St" matches without query-side expansion)
3. plan: each assignment picks ONE drive token — the rarest name token
   by indexed frequency, or the full-name 'W' token when every partial
   is too frequent (the reference's CountedTokenIDs planning,
   db_search_fields.py:22-57, db_search_builder.py:226-297)
4. lookup: one posting equi-join on the drive tokens (J1); the LookupAll
   remainder and the address Restrict (J3) are JVM array_contains
   filters against the candidate's name_vector/nameaddress_vector
5. housenumber lane (J13): name+address resolve a street; the housenumber
   equi-joins the street's children (housenumber lists exploded), falling
   back to the interpolation range join; postcode-role assignments join
   the postcode table (PostcodeSearch)
6. rank: lowest total penalty (lane + assignment + viewbox), then text
   distance, importance desc, deterministic tie-break; top-1 per query
   (geocode) or the adaptive-cut ranked list (geocode_all)

Scale notes: BOTH word-dictionary slices ('w' partials and 'W' full
names) are semi-joined down to the batch's distinct tokens before any
broadcast — at planet scale the partial vocabulary alone is tens of
millions of rows, so the broadcast side must be bounded by the BATCH,
never the table (_batch_word_dict); the posting table is pre-filtered
by a broadcast semijoin against the batch's DISTINCT DRIVE ids, so the
posting shuffle is bounded by the rarest-token document frequencies;
AQE skew handling covers hot city-name drive tokens.
"""

from __future__ import annotations

import functools
import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nominatim_spark.functions.housenumbers import canonical_housenumber
from nominatim_spark.functions.text import norm_translit
from nominatim_spark.pipeline.placex import IndexTables

_HNR_RE = re.compile(r"^(.*?)[ ,]\s*(\d{1,4}(?: ?[a-zA-Z])?)\s*$")
_DIGIT_TOK = re.compile(r"^\d{1,4}[a-zA-Z]?$")
_LETTER_TOK = re.compile(r"^[a-zA-Z]$")

# ---- postcode recognition (postcode_parser.py:20-110 re-expression):
# the full per-country pattern table (161 countries) compiled into one
# global alternation with an optional country-code prefix ('DE 12345',
# 'DE-12345') and per-pattern output normalization; all-zero forms
# rejected.  See pipeline/postcodes.py.
from nominatim_spark.pipeline.postcodes import match_postcode_all as \
    _match_postcode_all


def _match_pc(term: str) -> tuple[str, ...] | None:
    """EVERY country reading of ``term`` as a normalized postcode
    (canonical spelling first), or None — the reference keeps the full
    multi-country outcode set per token (postcode_parser.py:85-110:
    '45325' is both the identity '45325' and Sweden's '453 25'), and so
    does the assignment: ONE row whose readings array the postcode lanes
    explode/aggregate against the table."""
    got = _match_postcode_all(term)
    return tuple(got) if got else None


def _extract_pc(tokens: list[str]
                ) -> tuple[tuple[str, ...] | None, list[str]]:
    """Split a leading or trailing postcode window (1-3 tokens, so
    'CV 12345' and 'GB EC1R 3HF' work — the reference concatenates up to
    three terms, postcode_parser.py:63-71) off a token stream."""
    for size in (3, 2, 1):
        if len(tokens) >= size:
            got = _match_pc(" ".join(tokens[:size]))
            if got is not None:
                return got, tokens[size:]
            got = _match_pc(" ".join(tokens[-size:]))
            if got is not None:
                return got, tokens[:-size]
    return None, tokens

# token_assignment.py penalty constants (re-expressed):
#   word-break split inside a phrase  -> 0.1  (word_break_penalty)
#   housenumber before the name      -> 0.4  (:344)
#   housenumber not at the edge      -> 0.25 (:301)
#   postcode-only assignment         -> 0.1  (:379-381)
_P_SPLIT = 0.1
_P_HNR_LEADING = 0.4
_P_HNR_INNER = 0.25
_P_POSTCODE = 0.1
# a digit token read as PART OF THE NAME instead of a housenumber — the
# reference yields both readings (token_assignment.py yields the
# housenumber assignment AND the partial-word one), so 'Studio 54' /
# 'Route 66' can match places genuinely named with a number
_P_DIGIT_NAME = 0.1
MAX_ASSIGN_TOKENS = 9  # the reference bounds assignment enumeration

# special-phrase category table (the reference imports these from the
# special-phrases wiki into word rows of TOKEN_NEAR_ITEM /
# TOKEN_QUALIFIER type, icu_tokenizer.py:171-177; token roles
# token_assignment.py:53-61).  The table is DATA (pipeline/phrases.py:
# built-in default vocabulary, or a CSV via load_phrases_csv) broadcast
# into the parse stage with the task closure.
from nominatim_spark.pipeline.phrases import (
    DEFAULT_PHRASE_TABLE, NEAR_OPS, match_phrase)

# a category reading without an explicit connector competes with the
# literal-name reading at a small penalty (the reference runs both
# searches and lets ranking decide; the batch engine biases the literal)
_P_PHRASE_READING = 0.1


def _phrase_suffix(toks: list[str], table) -> tuple[int, str, tuple] | None:
    """Longest phrase-table match at the END of the token stream."""
    from nominatim_spark.pipeline.phrases import MAX_PHRASE_WORDS

    for n in range(min(len(toks) - 1, MAX_PHRASE_WORDS), 0, -1):
        key = " ".join(t.lower() for t in toks[-n:])
        if key in table:
            return n, table[key][0], table[key][1]
    return None


def _assignments(q: str, table=None) -> list[tuple]:
    """Enumerate (name, hnr, addr, postcode, penalty, direction,
    addr_phrases, near_key, qual_key) role assignments.

    Special-phrase readings (db_search_builder.py:86-128,
    token_assignment.py near_item/qualifier placement):

    * '<category> near|in <rest>' — every assignment of the REMAINDER
      (the anchor) is emitted with ``near_key`` set at no extra penalty;
    * a LEADING or TRAILING category phrase without a connector (edge
      placement, the only positions the reference admits) adds a near
      reading (operator near/in) and a qualifier reading (operator '-',
      candidate class/type restrict) at +0.1.  Comma-phrased queries get
      the same edge readings when the FIRST or LAST phrase is exactly a
      category phrase ('restaurant, Vels' / 'Vels, restaurant' —
      token_assignment.py:158 admits NEAR_ITEM at either end of the
      phrase sequence); mid-sequence near_item stays out of scope;
    * a category-only query yields the PoiSearch assignment
      (build_poi_search:121-128).

    The literal reading is always kept (the reference also yields both)
    and the category readings die in the plan stage unless their anchor
    resolves."""
    table = DEFAULT_PHRASE_TABLE if table is None else table
    base = q or ""
    has_comma = "," in base
    lead = base.split(",", 1)[0].split()
    out: list[tuple] = []
    m = match_phrase(lead, table)
    if (m is not None and not has_comma and m[0] == len(lead)
            and any(op in NEAR_OPS for op in m[2])):
        # category-only -> PoiSearch (near/in-typed phrases only:
        # qualifier-only sequences build no special search,
        # build_special_search:134-136)
        return [("", None, "", None, 0.2, 0, [], m[1], None)]
    if m is not None and len(lead) > m[0] \
            and lead[m[0]].lower() in ("near", "in"):
        # the anchor keeps its comma phrasing ('restaurant near Birch
        # Street, City0' resolves the aligned street+city reading)
        parts = base.split(None, m[0] + 1)
        rest = parts[m[0] + 1] if len(parts) > m[0] + 1 else ""
        if rest.strip():
            out += [(*a, m[1], None) for a in _enumerate_assignments(rest)]
    elif m is not None and not has_comma and len(lead) > m[0]:
        rest = " ".join(lead[m[0]:])
        if any(op in NEAR_OPS for op in m[2]):
            out += [(*_bump(a), m[1], None)
                    for a in _enumerate_assignments(rest)]
        if "-" in m[2]:
            out += [(*_bump(a), None, m[1])
                    for a in _enumerate_assignments(rest)]
    if not has_comma:
        sm = _phrase_suffix(lead, table)
        if sm is not None:
            rest = " ".join(lead[:-sm[0]])
            if any(op in NEAR_OPS for op in sm[2]):
                out += [(*_bump(a), sm[1], None)
                        for a in _enumerate_assignments(rest)]
            if "-" in sm[2]:
                out += [(*_bump(a), None, sm[1])
                        for a in _enumerate_assignments(rest)]
    else:
        # comma-phrased edge placement (token_assignment.py:158 admits a
        # NEAR_ITEM phrase at either end of the phrase sequence):
        # 'restaurant, Vels' / 'Vels, restaurant' read the category
        # phrase as near_item/qualifier with the remaining phrases as the
        # anchor.  Mid-sequence near_item stays out of scope (documented).
        ph = [p.strip() for p in base.split(",") if p.strip()]
        if len(ph) > 1:
            for toks, rest in (
                (ph[0].split(), ", ".join(ph[1:])),
                (ph[-1].split(), ", ".join(ph[:-1])),
            ):
                em = match_phrase(toks, table)
                if em is None or em[0] != len(toks):
                    continue
                if any(op in NEAR_OPS for op in em[2]):
                    out += [(*_bump(a), em[1], None)
                            for a in _enumerate_assignments(rest)]
                if "-" in em[2]:
                    out += [(*_bump(a), None, em[1])
                            for a in _enumerate_assignments(rest)]
    out += [(*a, None, None) for a in _enumerate_assignments(base)]
    # dedupe (name, hnr, addr, postcode, near_key, qual_key) keeping the
    # lowest penalty
    best: dict[tuple, tuple] = {}
    for a in out:
        k = (a[0], a[1], a[2], a[3], a[7], a[8])
        if k not in best or a[4] < best[k][4]:
            best[k] = a
    return list(best.values())


def _bump(a: tuple, by: float = _P_PHRASE_READING) -> tuple:
    return (*a[:4], a[4] + by, *a[5:])


def _enumerate_assignments(q: str) -> list[tuple]:
    """Enumerate (name, hnr, addr, postcode, penalty, direction,
    addr_phrases) role assignments.

    Re-expresses yield_token_assignments (src/nominatim_api/search/
    token_assignment.py:402-440) for the batch engine:

    * comma-phrased queries keep the aligned reading (phrase 0 = name,
      rest = address) at penalty 0 — the reference's zero-penalty forward
      assignment;
    * un-phrased queries enumerate every forward split (name prefix /
      address suffix) and backward split (address prefix / name suffix)
      at the word-break penalty, exactly the *_address_forward/_backward
      split loops (:270-356);
    * a digit token takes the housenumber role, penalized when it is not
      at the edge of the name (:301, :344);
    * a postcode-shaped lone token becomes a postcode-only assignment
      (:374-381).
    """
    phrases = [p.strip() for p in (q or "").split(",") if p.strip()]
    out: list[tuple] = []
    if not phrases:
        return [("", None, "", None, 0.0, 0, [])]

    if len(phrases) > 1:
        name = phrases[0]
        # in-phrase postcode roles (postcode_parser.py:49-83): the first
        # address phrase that is, starts with, or ends with a postcode
        # window surrenders it ('street 5, 12345 city' routes the 12345
        # to the postcode lane, 'city' stays an address phrase)
        pc, aphr = None, []
        for p in phrases[1:]:
            if pc is None:
                got, rest = _extract_pc(p.split())
                if got is not None:
                    pc = got
                    if rest:
                        aphr.append(norm_translit(" ".join(rest)))
                    continue
            aphr.append(norm_translit(p))
        addr = " ".join(aphr)

        def emit_phrased(nm: str, base: float):
            m = _HNR_RE.match(nm)
            if m and m.group(1).strip():
                # canonical form ('4 a'/'4a' -> '4␣a') so the house join
                # matches the index's canonical housenumber lists — the
                # batch analog of the reference's word-boundary RegexpWord
                # match (sqlalchemy_functions.py:204-218)
                out.append((norm_translit(m.group(1).strip()),
                            canonical_housenumber(m.group(2).lower()),
                            addr, pc, base, 0, aphr))
                # dual reading: the digit stays in the name (places named
                # with a number — see _P_DIGIT_NAME)
                out.append((norm_translit(nm), None, addr, pc,
                            base + _P_DIGIT_NAME, 0, aphr))
            else:
                out.append((norm_translit(nm), None, addr, pc, base, 0,
                            aphr))

        # trailing postcode on the name phrase ('Birch Street 47000, ...')
        ntoks = name.split()
        if pc is None and len(ntoks) > 1:
            got = _match_pc(ntoks[-1])
            if got is not None:
                pc = got
                emit_phrased(" ".join(ntoks[:-1]), 0.0)
                pc = None  # emit_phrased reads the closure at call time
                emit_phrased(name, _P_SPLIT)
                return out
        emit_phrased(name, 0.0)
        if pc is not None:
            # reading without the postcode role (the token may genuinely
            # be part of an address word) — small penalty, dies in the
            # plan stage unless the token really is indexed
            aphr_full = [norm_translit(p) for p in phrases[1:]]
            out.append((norm_translit(name), None, " ".join(aphr_full),
                        None, _P_SPLIT, 0, aphr_full))
        return out

    raw_toks = phrases[0].split()
    if len(raw_toks) == 1:
        got = _match_pc(raw_toks[0])
        if got is not None:
            # postcode-only assignment (:374-381)
            return [("", None, "", got, _P_POSTCODE, 0, [])]
    if len(raw_toks) > MAX_ASSIGN_TOKENS:
        return [(norm_translit(phrases[0]), None, "", None, 0.0, 0, [])]

    def emit(toks: list[str], hnr: str | None, base: float,
             pc: str | None = None):
        n = len(toks)
        if n == 0:
            if pc is not None:
                out.append(("", None, "", pc, base + _P_POSTCODE, 0, []))
            return
        hnr = canonical_housenumber(hnr.lower()) if hnr else None
        norm = [norm_translit(t) for t in toks]
        out.append((" ".join(norm), hnr, "", pc, base, 0, []))
        for i in range(1, n):
            # forward: name prefix, address suffix (:283-310)
            out.append((" ".join(norm[:i]), hnr, " ".join(norm[i:]),
                        pc, base + _P_SPLIT, 1, [" ".join(norm[i:])]))
            # backward: address prefix, name suffix (:313-356)
            out.append((" ".join(norm[i:]), hnr, " ".join(norm[:i]),
                        pc, base + _P_SPLIT, -1, [" ".join(norm[:i])]))

    def enum_digits(toks: list[str], base: float, pc: str | None):
        # every digit token is a housenumber candidate at its positional
        # penalty (the reference enumerates all positions,
        # token_assignment.py:283-356), plus the digit-kept-in-name
        # reading (see _P_DIGIT_NAME)
        digit_pos = [i for i, t in enumerate(toks) if _DIGIT_TOK.match(t)]
        if digit_pos and len(toks) > 1:
            for j in digit_pos:
                b = base + (0.0 if j == len(toks) - 1
                            else _P_HNR_LEADING if j == 0 else _P_HNR_INNER)
                emit(toks[:j] + toks[j + 1:], toks[j], b, pc)
                # spaced letter suffix: '4 a' reads as housenumber '4 a'
                # (canonicalized to the index's '4␣a' form — RegexpWord
                # boundary-match parity)
                if (j + 1 < len(toks) and toks[j].isdigit()
                        and _LETTER_TOK.match(toks[j + 1])):
                    b2 = base + (0.0 if j + 1 == len(toks) - 1
                                 else _P_HNR_LEADING if j == 0
                                 else _P_HNR_INNER)
                    emit(toks[:j] + toks[j + 2:],
                         toks[j] + " " + toks[j + 1], b2, pc)
            emit(toks, None, base + _P_DIGIT_NAME, pc)
        else:
            emit(toks, None, base, pc)

    # postcode windows at the edges of the token stream (cc prefix makes
    # a 2-token window: 'CV 12345 main st' / 'main st CV 12345')
    got, rest = _extract_pc(raw_toks)
    if got is not None:
        if rest:
            enum_digits(rest, 0.0, got)
            enum_digits(raw_toks, _P_SPLIT, None)
        else:
            # the whole query was a (possibly cc-prefixed) postcode
            out.append(("", None, "", got, _P_POSTCODE, 0, []))
    else:
        enum_digits(raw_toks, 0.0, None)

    # dedupe (name, hnr, addr, postcode) keeping the lowest penalty
    best: dict[tuple, tuple] = {}
    for a in out:
        k = (a[0], a[1], a[2], a[3])
        if k not in best or a[4] < best[k][4]:
            best[k] = a
    return list(best.values())


# address-phrase ranking ladder (get_addr_ranking re-expression,
# db_search_builder.py:314-366): per phrase, the alternative readings of
# its word sequence — every segmentation into full-word 'W' spans with
# the uncovered positions read as partials.  A path pays the word-break
# penalty (0.1) for every internal boundary NOT absorbed inside a span;
# the pure-partial path becomes the ranking default (+0.3, the
# reference's ranks[0].penalty + 0.3).  Phrases longer than
# _LADDER_MAX_WORDS keep the single whole-phrase path (the heap's
# bail-out shape).  Paths are capped at 10 like the reference's heap.
_LADDER_MAX_WORDS = 4
_LADDER_MAX_PATHS = 10


def _addr_ladder(aphr: list[str]):
    """[phrase, ...] -> (spans, paths, dflts) for the plan stage:
    spans  = [{pos, sid, txt}]              (W dictionary probes)
    paths  = [{pos, pen, sids}]             (rank entries per phrase)
    dflts  = [default penalty per phrase]

    Memoized per phrase tuple — batches repeat the same address phrases
    (city names) constantly, and the outputs are read-only.
    """
    return _addr_ladder_cached(tuple(aphr))


@functools.lru_cache(maxsize=65536)
def _addr_ladder_cached(aphr: tuple):
    if all(len(p.split()) <= 1 for p in aphr):
        # all-trivial ladder (the overwhelmingly common shape): nothing
        # ships — the plan stage derives the whole-phrase spans from
        # addr_phrases and the single zero-penalty entry per phrase
        return None, None, None
    spans: list[dict] = []
    paths: list[dict] = []
    dflts: list[float] = []
    for pos, phrase in enumerate(aphr):
        words = phrase.split()
        k = len(words)
        dflts.append(0.3 + _P_SPLIT * (k - 1))
        span_sid: dict[tuple[int, int], int] = {}

        def sid_of(s: int, e: int) -> int:
            if (s, e) not in span_sid:
                span_sid[(s, e)] = len(span_sid)
                spans.append({"pos": pos, "sid": span_sid[(s, e)],
                              "txt": " ".join(words[s:e])})
            return span_sid[(s, e)]

        if k > _LADDER_MAX_WORDS:
            paths.append({"pos": pos, "pen": 0.0,
                          "sids": [sid_of(0, k)]})
            continue

        def rec(i: int):
            if i == k:
                yield []
                return
            for rest in rec(i + 1):       # partial at i
                yield rest
            for j in range(i + 1, k + 1):  # W span [i, j)
                for rest in rec(j):
                    yield [(i, j)] + rest

        cands = []
        for segs in rec(0):
            if not segs:
                continue  # pure-partial path -> the default
            inside = {b for s, e in segs for b in range(s + 1, e)}
            pen = _P_SPLIT * sum(
                1 for b in range(1, k) if b not in inside)
            cands.append((pen, segs))
        cands.sort(key=lambda c: (c[0], len(c[1])))
        for pen, segs in cands[:_LADDER_MAX_PATHS]:
            paths.append({"pos": pos, "pen": pen,
                          "sids": [sid_of(s, e) for s, e in segs]})
    return spans, paths, dflts


def _parse_rows(q: str, table=None) -> tuple[tuple, ...]:
    """All parse rows (sans query position) for ONE preprocessed query —
    a pure function of the text, shared by the cached and uncached paths."""
    full = " ".join(
        norm_translit(p.strip())
        for p in (q or "").split(",") if p.strip()
    )
    rows = []
    for aid, (name, hnr, addr, pc, pen, dirn, aphr, nk, qk) in enumerate(
            _assignments(q, table)):
        spans, paths, dflts = _addr_ladder(aphr)
        # pc is the full multi-country readings tuple (canonical
        # spelling first); 'postcode' keeps the canonical scalar,
        # 'pc_all' the whole set for the lanes to explode
        rows.append((aid, name, hnr, addr,
                     pc[0] if pc else None, pen, dirn, full,
                     aphr, nk, qk, spans, paths, dflts,
                     list(pc) if pc else None))
    return tuple(rows)


# Batches repeat query strings constantly (a crawl mentions the same
# address on many pages; the flagship's 100k pages carry ~1k distinct
# mentions), and the per-query enumeration is the single most expensive
# Python step in the engine (measured ~60% of the flagship's Python task
# time).  Memoize the whole per-text parse in the long-lived worker
# process — same discipline as _addr_ladder_cached; keyed on the
# PREPROCESSED text and valid only for the default phrase table (custom
# tables take the uncached path).  The rows are read-only after
# construction, so sharing them across batches is safe.
@functools.lru_cache(maxsize=65536)
def _parse_rows_default(q: str) -> tuple[tuple, ...]:
    return _parse_rows(q, None)


def _parse_batch(qtext: pd.Series, pre=None, table=None) -> pd.DataFrame:
    rows = []
    for pos, q in enumerate(qtext):
        if pre is not None and q:
            q = pre(q)
        parsed = (_parse_rows_default(q) if table is None
                  else _parse_rows(q, table))
        for r in parsed:
            rows.append((pos,) + r)
    return pd.DataFrame(
        rows,
        columns=["_pos", "assign_id", "name_norm", "hnr", "addr_norm",
                 "postcode", "apenalty", "adirection", "full_norm",
                 "addr_phrases", "near_key", "qual_key", "addr_spans",
                 "addr_paths", "addr_dflts", "pc_all"],
    )


def parse_queries(queries: DataFrame, text_col: str = "qtext",
                  preprocessors: list | None = None,
                  phrases=None) -> DataFrame:
    """Explode each query into its role assignments: one row per
    (query, assignment) with name_norm / hnr / addr_norm / postcode /
    apenalty / adirection columns (plus the full normalized query for the
    direction-penalty stats).  Comma-phrased queries produce one aligned
    assignment (plus the digit-kept-in-name dual reading when a trailing
    housenumber was split off — that reading dies before any posting join
    unless the digit really is an indexed name word).

    ``preprocessors``: query-preprocessing chain config (see
    pipeline/preprocess.py) applied to each query text before
    assignment enumeration; defaults to the standard chain.
    ``phrases``: special-phrase table (pipeline/phrases.py) for the
    category readings; defaults to the built-in vocabulary.  The table
    ships to the workers inside the task closure (a few KB)."""
    from nominatim_spark.pipeline.preprocess import compile_chain

    pre = compile_chain(preprocessors)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in queries.schema
    ) + (", assign_id int, name_norm string, hnr string, addr_norm string"
         ", postcode string, apenalty double, adirection int"
         ", full_norm string, addr_phrases array<string>"
         ", near_key string, qual_key string"
         ", addr_spans array<struct<pos:int,sid:int,txt:string>>"
         ", addr_paths array<struct<pos:int,pen:double,sids:array<int>>>"
         ", addr_dflts array<double>, pc_all array<string>")

    def run(batches):
        for pdf in batches:
            parsed = _parse_batch(pdf[text_col], pre=pre, table=phrases)
            base = pdf.reset_index(drop=True)
            merged = base.iloc[parsed["_pos"]].reset_index(drop=True)
            yield pd.concat(
                [merged, parsed.drop(columns=["_pos"]).reset_index(drop=True)],
                axis=1,
            )

    return queries.mapInPandas(run, schema=schema)


# LINFAC normalization table (query.py:23-24)
_LINFAC = [
    i * (sum(si * si for si in range(i)) - (i - 1) * i * (i - 1) / 4)
    for i in range(50)
]


def _fold_direction_penalty(q: DataFrame, word: DataFrame,
                            enabled: bool | None = None) -> DataFrame:
    """Stats-driven direction penalty (query.py:333-346 + F14).

    Each query token's name_address_ratio (name vs address posting counts,
    query.py:233-240) is regressed over token position; the slope's sign
    says whether the name reads first (forward) or last (backward), and
    the opposing split assignments absorb it as extra penalty
    (token_assignment.py's dir_penalty uses).  All-JVM: posexplode + one
    broadcast dictionary join + one aggregation.
    """
    if "name_count" not in word.columns:
        return q
    spark = q.sparkSession
    # only queries with split assignments can absorb the penalty — for
    # comma-phrased workloads (the flagship path) there are none and the
    # whole fold short-circuits (``enabled`` carries the batched metadata
    # probe from score_hits; standalone callers probe here)
    if enabled is False:
        return q
    split_q = q.filter(F.col("adirection") != 0).select("query_id").distinct()
    if enabled is None and split_q.isEmpty():
        return q
    toks = (
        q.select("query_id", "full_norm").distinct()
        .join(split_q, "query_id", "left_semi")
        .select(
            "query_id",
            F.posexplode(
                F.expr("filter(split(full_norm, ' '), w -> w <> '')")
            ).alias("pos", "_tok"),
        )
    )
    # the stats dictionary is bounded by the batch's distinct tokens
    # BEFORE the broadcast — never the whole partial vocabulary (same
    # batch-bounding + small-table shortcut as _batch_word_dict)
    w = word.filter(F.col("type") == "w").select(
        F.col("word_token").alias("_tok"),
        F.when(
            (F.col("name_count") + F.col("addr_count")) > 0,
            F.col("name_count")
            / (F.col("name_count") + F.col("addr_count")),
        ).otherwise(F.lit(0.5)).alias("r"),
    )
    if _word_count(word) > DIRECT_DICT_MAX:
        w = w.join(
            F.broadcast(toks.select("_tok").distinct()), "_tok", "left_semi",
        )
    rt = toks.join(F.broadcast(w), "_tok", "left").withColumn(
        "r", F.coalesce("r", F.lit(0.5))
    )
    stats = rt.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("r").alias("_sr"),
        F.sum(F.col("pos") * F.col("r")).alias("_sir"),
        F.max(F.when(F.col("pos") == 0, F.col("r"))).alias("_r0"),
        F.max(F.when(F.col("pos") == 1, F.col("r"))).alias("_r1"),
    )
    lf = spark.createDataFrame(
        [(i, float(_LINFAC[i])) for i in range(3, 50)], "_n long, _lf double"
    )
    dirp = stats.join(F.broadcast(lf), "_n", "left").select(
        "query_id",
        F.when(F.col("_n") <= 1, F.lit(0.0))
        .when(F.col("_n") >= 50, F.lit(0.0))
        .when(F.col("_n") == 2, (F.col("_r1") - F.col("_r0")) / 3)
        .otherwise(
            (F.col("_n") * F.col("_sir")
             - F.col("_sr") * F.col("_n") * (F.col("_n") - 1) / 2)
            / F.col("_lf")
        ).alias("_dirpen"),
    )
    return q.join(dirp, "query_id", "left").withColumn(
        "apenalty",
        F.col("apenalty")
        + F.when(
            (F.col("adirection") == 1) & (F.col("_dirpen") > 0),
            F.col("_dirpen"),
        ).when(
            (F.col("adirection") == -1) & (F.col("_dirpen") < 0),
            -F.col("_dirpen"),
        ).otherwise(F.lit(0.0)),
    ).drop("_dirpen")


# When every partial of a name is at least this frequent, the lookup
# switches to the full-name 'W' token (the reference's "partial term too
# frequent, try looking up by rare full names" branch,
# db_search_builder.py:236-246 / 258-268; index-lookup suitability decided
# by CountedTokenIDs.get_num_lookup_tokens, db_search_fields.py:37-57).
W_LOOKUP_MIN_COUNT = 30_000


# Above this many word rows the dictionary must be batch-bounded before
# any broadcast; below it a direct broadcast is cheaper (the semi-join's
# prefilter pass costs more than shipping the whole small table —
# measured ~2.8 s/batch on the flagship for a 20k-row dictionary).
DIRECT_DICT_MAX = 500_000


def _word_count(word: DataFrame) -> int:
    """Row count of the word table, memoized on the DataFrame object —
    one metadata-cheap job per table instance, reused across batches."""
    n = getattr(word, "_nspark_word_count", None)
    if n is None:
        n = word.count()
        word._nspark_word_count = n
    return n


def _batch_word_dict(word: DataFrame, toks: DataFrame, *,
                     has_stats: bool) -> DataFrame:
    """The batch-bounded token dictionary: BOTH word-table slices — the
    partial 'w' terms and the full-name 'W' strings — semi-joined down to
    the batch's distinct (token, type) pairs BEFORE any broadcast.

    At planet scale the partial vocabulary alone is tens of millions of
    rows (hundreds of MB to GBs) — broadcasting it whole is the one
    scale-killer the reference never has (its per-query word lookup is an
    indexed point query, icu_tokenizer.py lookup_in_db).  The batch
    analog: the query batch contributes a bounded distinct-token set (a
    few tokens per query), that set broadcasts to prefilter the word
    table, and only the surviving dictionary rows (≤ batch tokens) are
    broadcast into the explode join.  Dictionaries under DIRECT_DICT_MAX
    rows skip the prefilter — shipping them whole is cheaper than the
    extra pass."""
    w_part = word.filter(F.col("type") == "w").select(
        F.col("word_token").alias("_tok"), F.lit("w").alias("_ty"),
        F.col("word_id").alias("_wid"),
        (F.col("name_count") if has_stats else F.lit(1))
        .cast("long").alias("_wcount"),
    )
    w_full = word.filter(F.col("type") == "W").select(
        F.col("word_token").alias("_tok"), F.lit("W").alias("_ty"),
        F.col("word_id").alias("_wid"),
        F.lit(None).cast("long").alias("_wcount"),
    )
    wdict = w_part.unionByName(w_full)
    if _word_count(word) <= DIRECT_DICT_MAX:
        return wdict
    return wdict.join(
        F.broadcast(toks.select("_tok", "_ty").distinct()),
        ["_tok", "_ty"], "left_semi",
    )


def _plan_assignments(q: DataFrame, word: DataFrame) -> DataFrame:
    """Per-assignment lookup PLAN: one row per (query_id, assign_id) with

    * ``name_ids`` / ``addr_ids`` — the assignment's w-token id arrays
      (assignments with any unknown token are dropped — the AND semantics
      could never match them);
    * ``drive_id`` — the single token that drives the posting join: the
      RAREST name token by indexed name_count (the batch analog of
      CountedTokenIDs rare-token-first planning, db_search_fields.py:22-57
      — the posting join's fan-out is bounded by the rarest token's
      document frequency, every other token is a recheck), or the
      full-name 'W' token when all partials are more frequent than
      W_LOOKUP_MIN_COUNT (db_search_builder.py:236-246: the narrowed
      full-name plan is what the reference runs when partial lookups stop
      being index-worthy);
    * the per-assignment RANKING inputs (FieldRanking lists,
      db_search_builder.py:299-366, applied by weigh_search,
      ranking.sql:327-345): ``name_full_id`` / ``n_name`` (candidates
      holding the full-word token pay 0, others the default
      ``0.2 + 0.1*(n_name-1)``) and ``addr_ranks`` (one struct per
      address PHRASE: the full multi-path LADDER — every full-word
      segmentation of the phrase as (penalty, [W ids]) entries built by
      _addr_ladder, get_addr_ranking's heap re-expressed — with the
      pure-partial fallback default ``0.3 + 0.1*(words-1)``).

    The remaining tokens are NOT joined against the posting tables at
    all: candidates carry their name_vector/nameaddress_vector arrays,
    so the LookupAll remainder and the whole address Restrict (J3)
    become JVM ``forall`` filters — no shuffle.

    Plan shape (load-bearing at batch scale): ONE explode over every
    role (name words, addr words, the full name, addr phrases) joined
    against ONE broadcast dictionary — the bounded partial-word table
    plus the 'W' slice semi-joined down to the batch's distinct full
    strings — then ONE groupBy.  No join-backs; the earlier two-pass
    form cost an extra shuffle + two joins per batch.
    """
    has_stats = "name_count" in word.columns
    has_spans = "addr_spans" in q.columns

    parts = [
        F.transform(
            F.expr("filter(split(name_norm, ' '), w -> w <> '')"),
            lambda w: F.struct(
                w.alias("_tok"), F.lit("w").alias("_ty"),
                F.lit("n").alias("_role"), F.lit(0).alias("_pos"),
                F.lit(0).alias("_plen"),
            ),
        ),
        F.transform(
            F.expr("filter(split(addr_norm, ' '), w -> w <> '')"),
            lambda w: F.struct(
                w.alias("_tok"), F.lit("w").alias("_ty"),
                F.lit("a").alias("_role"), F.lit(0).alias("_pos"),
                F.lit(0).alias("_plen"),
            ),
        ),
        F.when(
            F.col("name_norm") != "",
            F.array(F.struct(
                F.col("name_norm").alias("_tok"), F.lit("W").alias("_ty"),
                F.lit("f").alias("_role"), F.lit(0).alias("_pos"),
                F.lit(0).alias("_plen"),
            )),
        ).otherwise(F.expr(
            "array()"
        ).cast("array<struct<_tok:string,_ty:string,_role:string,"
               "_pos:int,_plen:int>>")),
    ]
    if has_spans:
        # one W probe per ladder SPAN (sub-span full-word readings of
        # each address phrase — get_addr_ranking's path vocabulary);
        # trivial ladders (addr_spans null) probe the whole phrases
        parts.append(F.coalesce(
            F.transform(
                F.col("addr_spans"),
                lambda s: F.struct(
                    s["txt"].alias("_tok"), F.lit("W").alias("_ty"),
                    F.lit("p").alias("_role"), s["pos"].alias("_pos"),
                    s["sid"].alias("_plen"),
                ),
            ),
            F.transform(
                F.col("addr_phrases"),
                lambda p, i: F.struct(
                    p.alias("_tok"), F.lit("W").alias("_ty"),
                    F.lit("p").alias("_role"), i.alias("_pos"),
                    F.lit(0).alias("_plen"),
                ),
            ),
        ))
    qual = (F.col("qual_key") if "qual_key" in q.columns
            else F.lit(None).cast("string")).alias("qual_key")
    pcflag = ((F.col("postcode").isNotNull() & (F.col("name_norm") != ""))
              if "postcode" in q.columns else F.lit(False)).alias("_pcf")
    paths = (F.col("addr_paths") if has_spans else F.expr("array()").cast(
        "array<struct<pos:int,pen:double,sids:array<int>>>"))
    dflts = (F.col("addr_dflts") if has_spans
             else F.expr("array()").cast("array<double>"))
    # the ladder arrays ride ONLY the first exploded row of each
    # assignment (posexplode index 0) — attaching them to every token row
    # would duplicate them through the explode and shuffle N copies into
    # the groupBy (measured ~20% of the flagship parse-plan wall)
    hnr_col = (F.col("hnr") if "hnr" in q.columns
               else F.lit(None).cast("string")).alias("hnr")
    toks = q.select(
        "query_id", "assign_id", "apenalty", qual, pcflag,
        hnr_col, "name_norm",
        F.posexplode(F.concat(*parts)).alias("_ti", "_t"),
        paths.alias("_ap"), dflts.alias("_ad"),
    ).select(
        "query_id", "assign_id", "apenalty", "qual_key", "_pcf",
        F.when(F.col("_ti") == 0, F.col("_ap")).alias("addr_paths"),
        F.when(F.col("_ti") == 0, F.col("_ad")).alias("addr_dflts"),
        # hnr/name_norm ride the first exploded row only (same discipline
        # as the ladder arrays) so the downstream lanes need no join back
        # to the parse output — the housenumber and plain lanes become
        # pure filters over the candidate set
        F.when(F.col("_ti") == 0, F.col("hnr")).alias("_hnr0"),
        F.when(F.col("_ti") == 0, F.col("name_norm")).alias("_nn0"),
        "_t.*",
    )

    wdict = _batch_word_dict(word, toks, has_stats=has_stats)

    toks = toks.join(F.broadcast(wdict), ["_tok", "_ty"], "left")
    agg = toks.groupBy("query_id", "assign_id").agg(
        F.first("apenalty").alias("apenalty"),
        F.first("qual_key").alias("qual_key"),
        F.first("_pcf").alias("pc_flagged"),
        F.sum(F.when(F.col("_role") == "n", 1).otherwise(0)).alias("_n_name"),
        F.sum(F.when((F.col("_role") == "n") & F.col("_wid").isNotNull(), 1)
              .otherwise(0)).alias("_n_name_hit"),
        F.sum(F.when(F.col("_role") == "a", 1).otherwise(0)).alias("_n_addr"),
        F.sum(F.when((F.col("_role") == "a") & F.col("_wid").isNotNull(), 1)
              .otherwise(0)).alias("_n_addr_hit"),
        F.array_sort(F.collect_list(
            F.when(F.col("_role") == "n", F.col("_wid"))
        )).alias("name_ids"),
        F.array_sort(F.collect_list(
            F.when(F.col("_role") == "a", F.col("_wid"))
        )).alias("addr_ids"),
        F.expr(
            "min_by(CASE WHEN _role = 'n' THEN _wid END, "
            "CASE WHEN _role = 'n' AND _wid IS NOT NULL "
            "THEN struct(_wcount, _wid) END)"
        ).alias("_drive_w"),
        F.min(F.when(F.col("_role") == "n", F.col("_wcount")))
        .alias("_drive_count"),
        F.max(F.when(F.col("_role") == "f", F.col("_wid")))
        .alias("_w_full_id"),
        F.collect_list(F.when(
            F.col("_role") == "p",
            F.struct(F.col("_pos").alias("pos"),
                     F.col("_plen").alias("sid"),
                     F.col("_wid").alias("wid")),
        )).alias("_span_hits"),
        F.first("addr_paths", ignorenulls=True).alias("_paths"),
        F.first("addr_dflts", ignorenulls=True).alias("_dflts"),
        F.first("_hnr0", ignorenulls=True).alias("hnr"),
        F.first("_nn0", ignorenulls=True).alias("name_norm"),
    ).filter(
        (F.col("_n_name") > 0)
        & (F.col("_n_name_hit") == F.col("_n_name"))
        & (F.col("_n_addr_hit") == F.col("_n_addr"))
    )
    # assemble the per-phrase ranking ladder: each path's span ids are
    # resolved through the probe results; a path with any unindexed span
    # can never match and is dropped (weigh_search only consults
    # materialized token sets, ranking.sql:327-345)
    agg = agg.withColumn("_smap", F.expr(
        "map_from_entries(transform(_span_hits, "
        "h -> struct(h.pos * 100 + h.sid, h.wid)))"
    )).withColumn("addr_ranks", F.expr(
        "CASE WHEN _dflts IS NOT NULL AND size(_dflts) > 0 THEN "
        "transform(sequence(0, size(_dflts) - 1), p -> struct("
        "_dflts[p] AS dflt, "
        "filter(transform(filter(_paths, pa -> pa.pos = p), "
        "pa -> struct(pa.pen AS pen, "
        "transform(pa.sids, s -> _smap[p * 100 + s]) AS ids)), "
        "e -> forall(e.ids, i -> i IS NOT NULL)) AS entries)) "
        # trivial ladder: one whole-phrase entry per span hit
        "WHEN size(_span_hits) > 0 THEN "
        "transform(array_sort(_span_hits), h -> struct("
        "CAST(0.3 AS DOUBLE) AS dflt, "
        "IF(h.wid IS NOT NULL, "
        "array(struct(CAST(0.0 AS DOUBLE) AS pen, array(h.wid) AS ids)), "
        "CAST(array() AS array<struct<pen:double,ids:array<bigint>>>)"
        ") AS entries)) "
        "ELSE NULL END"
    ))
    return agg.select(
        "query_id", "assign_id", "apenalty", "qual_key", "pc_flagged",
        "hnr", "name_norm",
        "name_ids", "addr_ids",
        F.when(
            F.col("_w_full_id").isNotNull()
            & (F.col("_drive_count") >= W_LOOKUP_MIN_COUNT),
            F.col("_w_full_id"),
        ).otherwise(F.col("_drive_w")).alias("drive_id"),
        F.col("_w_full_id").alias("name_full_id"),
        F.col("_n_name").alias("n_name"),
        "addr_ranks",
    )


# DataLayer -> class sets (nominatim_api/types.py DataLayer flags; the
# class membership mirrors db_search_builder.py's layer SQL)
LAYER_CLASSES: dict[str, tuple[str, ...]] = {
    "poi": ("amenity", "shop", "tourism", "leisure", "historic", "office"),
    "address": ("place", "boundary", "highway", "building"),
    "railway": ("railway",),
    "natural": ("natural", "water", "waterway"),
    "manmade": ("man_made", "aeroway", "military"),
}

# featureType parameter -> (min_rank, max_rank) window — the reference's
# FEATURE_TYPE_TO_RANK (v1/helpers.py:50-64, applied by server_glue.py:336)
FEATURE_TYPE_TO_RANK: dict[str, tuple[int, int]] = {
    "country": (4, 4),
    "state": (8, 8),
    "city": (14, 16),
    "settlement": (8, 20),
}


def feature_type_to_rank(feature_type: str | None) -> tuple[int, int]:
    """featureType -> rank window; unknown/None -> the full 0..30."""
    return FEATURE_TYPE_TO_RANK.get(feature_type, (0, 30))


def score_hits(
    spark,
    idx: IndexTables,
    queries: DataFrame,
    *,
    osmline: DataFrame | None = None,
    postcodes: DataFrame | None = None,
    text_col: str = "qtext",
    viewbox: tuple[float, float, float, float] | None = None,
    bounded_viewbox: bool = False,
    layers: list[str] | None = None,
    excluded_place_ids: list[int] | None = None,
    feature_type: str | None = None,
    countries: list[str] | None = None,
    near_radius_deg: float = 0.02,
    preprocessors: list | None = None,
    phrases=None,
) -> DataFrame:
    """All scored candidate hits per query (the ranked union the final
    top-1/top-k cuts operate on).

    Every lane operates per (query_id, assign_id) — one row per role
    assignment from parse_queries — and the final min_by folds the
    assignment penalty into the ranking, so the cheapest assignment whose
    lanes all match wins (the reference's penalty-ordered plan execution,
    geocoder.py:120-162, collapsed into one ranked union).
    ``postcodes``: optional location_postcodes table enabling the postcode
    search lane (db_searches/postcode_search.py analog).

    Search knobs (db_searches/base.py:53-95, place_search.py:82-90):
    ``viewbox`` filters candidates when ``bounded_viewbox`` else penalizes
    results outside it (+1.0); ``layers`` restricts candidate classes
    (DataLayer analog, keys of LAYER_CLASSES); ``excluded_place_ids``
    drops specific places (P4); ``countries`` restricts every lane to the
    given country codes (the reference's countrycodes param,
    SearchDetails.countries, types.py + place_search country filter) —
    applied at the candidate join, so excluded countries never reach the
    lane exchanges."""
    # materialize the parsed assignments BEFORE the direction fold — the
    # fold reads the parse output three times (split filter, token
    # explode, main flow) and the Python parse must run exactly once.
    # localCheckpoint instead of persist: every downstream lane's logical
    # plan then starts from a leaf RDD rather than embedding the whole
    # mapInPandas subtree, which cuts the per-action Catalyst/cache-lookup
    # time on the driver (guide §3.3: materialise to truncate the plan)
    parsed = parse_queries(queries, text_col, preprocessors=preprocessors,
                           phrases=phrases).localCheckpoint(eager=True)
    # ONE metadata probe over the cached parse feeds every conditional
    # lane below — replaces four serial isEmpty() driver round trips
    # (direction fold, postcode penalty, near chain, poi search)
    _fl = parsed.agg(
        F.max((F.col("adirection") != 0).cast("int")).alias("split"),
        F.max((F.col("postcode").isNotNull()
               & (F.col("name_norm") != "")).cast("int")).alias("pc_name"),
        F.max((F.col("near_key").isNotNull()
               & (F.col("name_norm") != "")).cast("int")).alias("near"),
        F.max((F.col("near_key").isNotNull()
               & (F.col("name_norm") == "")).cast("int")).alias("poi"),
        F.max(F.col("qual_key").isNotNull().cast("int")).alias("qual"),
    ).head()
    has_split, has_pc_name, has_near, has_poi, has_qual = (
        bool(_fl["split"]), bool(_fl["pc_name"]),
        bool(_fl["near"]), bool(_fl["poi"]), bool(_fl["qual"]))
    q = _fold_direction_penalty(parsed, idx.word, enabled=has_split)
    if q is not parsed:  # fold disabled -> q IS the checkpointed parse
        q = q.localCheckpoint(eager=True)

    # ---- planned lookup (J1 LookupAll + J3 Restrict, stats-driven):
    # ONE posting join, driven by each assignment's rarest name token
    # (or its full-name 'W' token when partials are too frequent — see
    # _plan_assignments).  The LookupAll remainder and the entire address
    # Restrict run as JVM array_contains filters against the candidate's
    # own name_vector/nameaddress_vector — address tokens are
    # anti-selective (a city name posts on every place in the city), so
    # keeping them out of the join is load-bearing at scale (measured 6x).
    plan = _plan_assignments(q, idx.word).localCheckpoint(eager=True)
    # pre-filter the posting table by the batch's distinct DRIVE ids (a
    # bounded broadcast) so the posting shuffle moves only the rarest-token
    # rows — strictly fewer than round 2's all-query-token prefilter
    drive_posts = idx.name_postings.join(
        F.broadcast(plan.select(F.col("drive_id").alias("word_id"))
                    .distinct()),
        "word_id", "left_semi",
    ).select(F.col("word_id").alias("drive_id"), "place_id")

    has_cc = "country_code" in idx.search_name.columns
    sn = idx.search_name.select(
        "place_id", "osm_type", "osm_id", "class", "type", "rank_search",
        "rank_address", "importance", "lon", "lat", "housenumber",
        "norm_name", "parent_place_id", "name_vector",
        "nameaddress_vector",
        *(["country_code"] if has_cc else []),
        (F.col("postcode") if "postcode" in idx.search_name.columns
         else F.lit(None).cast("string")).alias("own_pc"),
    )
    if countries:
        if not has_cc:
            raise ValueError(
                "countries= filter requires a country_code column on "
                "search_name")
        sn = sn.filter(F.lower(F.col("country_code")).isin(
            [c.lower() for c in countries]))
    if has_cc:
        sn = sn.drop("country_code")
    # materialize the candidate set once: the house / interpolation /
    # fallback branches below all reuse it, and Spark does not reuse
    # exchanges across differently-projected union branches — without this
    # the whole posting-join subtree runs 3-4x (measured 63s -> ~20s)
    cand = (
        plan.join(drive_posts, "drive_id")
        .join(sn, "place_id")
        .filter(F.expr(
            "forall(name_ids, i -> array_contains(name_vector, i))"
        ))
        .filter(
            (F.size("addr_ids") == 0)
            | F.expr(
                "forall(addr_ids, i -> array_contains(nameaddress_vector, i))"
            )
        )
    )
    if has_qual:
        # qualifier restrict (place_search.py qualifier filter): a
        # category-word reading keeps only candidates of that class/type
        # — skipped entirely when no assignment carries one (probe above)
        cand = cand.filter(
            F.col("qual_key").isNull()
            | (F.concat_ws("|", "class", "type") == F.col("qual_key"))
        )
    cand = (
        cand
        # weigh_search (ranking.sql:327-345): fold the per-assignment
        # FieldRanking penalties — 0 when the candidate's vector holds the
        # query's full-word token, the ranking default otherwise.  Folded
        # into apenalty so every downstream lane (house/interp/fallback)
        # inherits it, like the reference's AddressSearch does.
        .withColumn(
            "apenalty",
            F.col("apenalty")
            + F.when(
                F.col("name_full_id").isNotNull()
                & F.expr("array_contains(name_vector, name_full_id)"),
                F.lit(0.0),
            ).otherwise(F.lit(0.2) + F.lit(0.1) * (F.col("n_name") - 1))
            + F.when(F.col("addr_ranks").isNull(), F.lit(0.0)).otherwise(
                # per phrase: cheapest ladder path whose full-word spans
                # are all in the candidate's vector, else the default —
                # one allocation-free pass per phrase (this fold runs per
                # CANDIDATE row; intermediate arrays here measured ~3 s
                # on the 100k-page flagship)
                F.expr(
                    "aggregate(addr_ranks, 0.0D, (acc, ph) -> acc + "
                    "aggregate(ph.entries, ph.dflt, (best, e) -> "
                    "IF(e.pen < best AND forall(e.ids, i -> "
                    "array_contains(nameaddress_vector, i)), "
                    "e.pen, best)))"
                )
            ),
        )
        .drop("drive_id", "qual_key", "name_ids", "addr_ids",
              "name_full_id", "n_name", "addr_ranks", "name_vector",
              "nameaddress_vector")
    )
    # ---- candidate-side search knobs (filters push below the persist so
    # excluded/out-of-layer rows never enter the cached exchange)
    if excluded_place_ids:
        cand = cand.filter(~F.col("place_id").isin(list(excluded_place_ids)))
    if layers:
        classes = [c for lyr in layers for c in LAYER_CLASSES[lyr]]
        cand = cand.filter(F.col("class").isin(classes))
    if feature_type is not None:
        # featureType rank window (v1/helpers.py feature_type_to_rank;
        # rank conditions per place_search.py:172-177 — either rank may
        # satisfy the bound, so state-cities like Berlin still match)
        min_rank, max_rank = feature_type_to_rank(feature_type)
        if min_rank > 0:
            cand = cand.filter((F.col("rank_address") >= min_rank)
                               | (F.col("rank_search") >= min_rank))
        if max_rank < 30:
            cand = cand.filter((F.col("rank_address") <= max_rank)
                               | (F.col("rank_search") <= max_rank))
    if viewbox is not None and bounded_viewbox:
        vx0, vy0, vx1, vy1 = viewbox
        cand = cand.filter(
            F.col("lon").between(vx0, vx1) & F.col("lat").between(vy0, vy1)
        )
    # ---- postcode-constrained name search (PlaceSearch's postcode
    # penalty, place_search.py:149-163): an assignment carrying BOTH a
    # name and a postcode keeps its name candidates but charges each one
    # 0 when its own postcode matches, else the planar-degree distance to
    # the query postcode's centroid (2.0 when unknown); with no address
    # terms a flat 1.0 so PostcodeSearch outranks it.  The postcode table
    # is semi-joined down to the batch's postcodes before the broadcast.
    if has_pc_name:
        # every country reading of the assignment's postcode token
        # (pc_all, canonical first — postcode_parser.py keeps the full
        # outcode set), exploded for the table join then re-aggregated to
        # ONE row per assignment so the candidate set never multiplies
        pc_all_col = (F.col("pc_all") if "pc_all" in q.columns
                      else F.array("postcode"))
        qpc = q.filter(
            F.col("postcode").isNotNull() & (F.col("name_norm") != "")
        ).select(
            "query_id", "assign_id",
            F.explode(pc_all_col).alias("_qpc"),
            (F.col("addr_norm") != "").alias("_has_addr"),
        ).withColumn("_qpc", F.upper("_qpc"))
    if postcodes is None and has_pc_name:
        # no postcode table: a name assignment that consumed a token as
        # a postcode cannot verify it — charge the unknown-postcode
        # penalty (2.0, same as the with-table miss) so readings that
        # actually match the token (housenumber, address word) outrank
        # it.  The flag rode through the plan agg — no join here.
        cand = cand.withColumn(
            "apenalty",
            F.col("apenalty")
            + F.when(F.col("pc_flagged"), F.lit(2.0)).otherwise(F.lit(0.0)),
        )
    if postcodes is not None and has_pc_name:
        pc_cents = (
            postcodes
            .withColumn("_qpc", F.upper("postcode"))
            .join(F.broadcast(qpc.select("_qpc").distinct()),
                  "_qpc", "left_semi")
            .groupBy("_qpc")
            .agg(F.collect_list(F.struct("lon", "lat")).alias("_cents"))
        )
        # fold the readings back to one row per assignment: the set of
        # reading spellings (own-postcode equality check) and the union
        # of every matched reading's centroids (distance penalty takes
        # the min over ALL interpretations, matching the reference's
        # best-of-outcode-set ranking)
        qpc_agg = (
            qpc.join(F.broadcast(pc_cents), "_qpc", "left")
            .groupBy("query_id", "assign_id")
            .agg(
                F.collect_set("_qpc").alias("_qpcs"),
                F.flatten(F.collect_list("_cents")).alias("_cents"),
                F.first("_has_addr").alias("_has_addr"),
            )
        )
        min_dist = F.expr(
            "array_min(transform(_cents, c -> "
            "sqrt((c.lon - lon) * (c.lon - lon) + "
            "(c.lat - lat) * (c.lat - lat))))"
        )
        cand = (
            cand.join(qpc_agg, ["query_id", "assign_id"], "left")
            .withColumn(
                "apenalty",
                F.col("apenalty")
                + F.when(F.col("_qpcs").isNull(), F.lit(0.0))
                .when(F.array_contains("_qpcs", F.upper("own_pc")),
                      F.lit(0.0))
                .when(~F.col("_has_addr"), F.lit(1.0))
                .otherwise(F.coalesce(min_dist, F.lit(2.0))),
            )
            .drop("_qpcs", "_has_addr", "_cents")
        )

    # one materialization: all four lanes below re-read this set (Spark
    # does not reuse exchanges across differently-projected union
    # branches); localCheckpoint both caches it and truncates the join
    # lineage out of every lane's plan
    cand = cand.localCheckpoint(eager=True)

    # ---- housenumber lane: candidates that are streets get children.
    # hnr rides the plan aggregation (_plan_assignments), so the lane is a
    # FILTER over the checkpointed candidate set — no join back to the
    # parse output (saved one shuffle join + one anti-join over the
    # biggest intermediate; plan diff in plans/r06/).
    street_cand = cand.filter(F.col("hnr").isNotNull()).filter(
        F.col("rank_search").between(26, 27)
    )
    # one row per (house, housenumber): clean_housenumbers splits "2;4;6"
    # lists, so a house matches any of its numbers
    if "housenumbers" in idx.search_name.columns:
        houses = idx.search_name.filter(F.size("housenumbers") > 0).select(
            F.col("parent_place_id").alias("street_id"),
            F.col("place_id").alias("house_id"),
            F.explode("housenumbers").alias("h_hnr"),
            F.col("lon").alias("h_lon"),
            F.col("lat").alias("h_lat"),
            F.col("osm_type").alias("h_osm_type"),
            F.col("osm_id").alias("h_osm_id"),
        )
    else:
        houses = idx.search_name.filter(F.col("housenumber").isNotNull()).select(
            F.col("parent_place_id").alias("street_id"),
            F.col("place_id").alias("house_id"),
            F.col("housenumber").alias("h_hnr"),
            F.col("lon").alias("h_lon"),
            F.col("lat").alias("h_lat"),
            F.col("osm_type").alias("h_osm_type"),
            F.col("osm_id").alias("h_osm_id"),
        )
    house_hits = street_cand.join(
        houses,
        (street_cand.place_id == houses.street_id)
        & (street_cand.hnr == houses.h_hnr),
    ).select(
        "query_id",
        "assign_id",
        F.col("house_id").alias("place_id"),
        F.col("h_osm_type").alias("osm_type"),
        F.col("h_osm_id").alias("osm_id"),
        F.lit("building").alias("class"),
        F.lit("yes").alias("type"),
        F.lit(30).alias("rank_search"),
        F.lit(30).alias("rank_address"),
        F.lit(0.0).alias("importance"),
        F.col("h_lon").alias("lon"),
        F.col("h_lat").alias("lat"),
        F.col("hnr").alias("housenumber"),
        F.col("apenalty").alias("penalty"),
        F.lit(0.0).alias("text_dist"),
    )

    interp_hits = None
    if osmline is not None:
        lines = osmline.select(
            F.col("parent_place_id").alias("street_id"),
            F.col("osmline_id"),
            "startnumber", "endnumber", "step", "mid_lon", "mid_lat",
        )
        interp_hits = (
            street_cand.withColumn("hnr_num", F.col("hnr").cast("int"))
            .join(lines, street_cand.place_id == lines.street_id)
            .filter(
                (F.col("hnr_num") >= F.col("startnumber"))
                & (F.col("hnr_num") <= F.col("endnumber"))
                & ((F.col("hnr_num") - F.col("startnumber")) % F.col("step") == 0)
            )
            .select(
                "query_id",
                "assign_id",
                F.col("osmline_id").alias("place_id"),
                F.lit("W").alias("osm_type"),
                F.col("osmline_id").alias("osm_id"),
                F.lit("place").alias("class"),
                F.lit("houses").alias("type"),
                F.lit(30).alias("rank_search"),
                F.lit(30).alias("rank_address"),
                F.lit(-0.1).alias("importance"),  # below exact house matches
                F.col("mid_lon").alias("lon"),
                F.col("mid_lat").alias("lat"),
                F.col("hnr").alias("housenumber"),
                (F.lit(1.0) + F.col("apenalty")).alias("penalty"),
                F.lit(0.0).alias("text_dist"),
            )
        )

    # queries WITHOUT housenumber: plain candidates with a fuzzy text-
    # distance rerank term playing the role of the reference's difflib
    # opcode distance (geocoder.py:213-259): among candidates that all
    # AND-match the query tokens, the one whose full name is closest to
    # the query wins before importance is consulted.  Normalized
    # levenshtein is used instead of difflib's ratio because it runs
    # JVM-side (built-in, codegen) — a difflib pandas UDF measured +11s on
    # the 100k-page flagship; both are edit-distance rerankers and the
    # candidates already share every query token.
    text_dist = F.round(
        F.levenshtein("name_norm", "norm_name")
        / F.greatest(F.length("name_norm"), F.length("norm_name"), F.lit(1)),
        6,
    )
    plain = (
        cand.filter(F.col("hnr").isNull())
        .withColumn(
            "text_dist",
            F.when(
                F.col("name_norm").isNull() | F.col("norm_name").isNull(),
                F.lit(1.0),
            ).otherwise(text_dist),
        )
        .select(
            "query_id", "assign_id", "place_id", "osm_type", "osm_id",
            "class", "type", "rank_search", "rank_address", "importance",
            "lon", "lat",
            F.lit(None).cast("string").alias("housenumber"),
            F.col("apenalty").alias("penalty"),
            "text_dist",
        )
    )
    # hnr queries where no house/interp matched: fall back to the street
    street_fallback = street_cand.select(
        "query_id", "assign_id", "place_id", "osm_type", "osm_id", "class",
        "type", "rank_search", "rank_address", "importance", "lon", "lat",
        F.lit(None).cast("string").alias("housenumber"),
        (F.lit(2.0) + F.col("apenalty")).alias("penalty"),
        F.lit(0.0).alias("text_dist"),
    )

    all_hits = plain.unionByName(house_hits).unionByName(street_fallback)
    if interp_hits is not None:
        all_hits = all_hits.unionByName(interp_hits)

    # ---- postcode lane (PostcodeSearch, db_searches/postcode_search.py):
    # postcode-role assignments resolve against the postcode table
    if postcodes is not None and countries:
        postcodes = postcodes.filter(
            F.lower(F.col("country_code")).isin(
                [c.lower() for c in countries]))
    if postcodes is not None:
        # only name-less assignments become a PostcodeSearch — with a name
        # present the postcode acts as a candidate penalty instead (see
        # the PlaceSearch block above; build_special_search:137-151)
        # one PostcodeSearch per country reading (the reference emits one
        # per outcode in the parsed set, postcode_parser.py:85-110) —
        # '45325' resolves against both the identity and '453 25' rows
        qp = q.filter(
            F.col("postcode").isNotNull() & (F.col("name_norm") == "")
        ).select(
            "query_id", "assign_id",
            F.explode(F.col("pc_all") if "pc_all" in q.columns
                      else F.array("postcode")).alias("postcode"),
            "apenalty",
        )
        pc = postcodes.select(
            F.upper(F.col("postcode")).alias("postcode"),
            F.col("country_code").alias("pc_cc"),
            F.col("lon").alias("pc_lon"), F.col("lat").alias("pc_lat"),
            F.col("rank_search").alias("pc_rs"),
            F.col("rank_address").alias("pc_ra"),
        )
        pc_hits = qp.withColumn("postcode", F.upper("postcode")).join(
            pc, "postcode"
        ).select(
            "query_id",
            "assign_id",
            # postcodes live outside the placex id space: namespace bit 3
            # like osmline, but negative to stay disjoint from it as well
            (-F.abs(F.xxhash64("pc_cc", "postcode"))).alias("place_id"),
            F.lit("P").alias("osm_type"),
            F.lit(None).cast("long").alias("osm_id"),
            F.lit("place").alias("class"),
            F.lit("postcode").alias("type"),
            F.col("pc_rs").cast("int").alias("rank_search"),
            F.col("pc_ra").cast("int").alias("rank_address"),
            F.lit(0.0).alias("importance"),
            F.col("pc_lon").alias("lon"),
            F.col("pc_lat").alias("lat"),
            F.lit(None).cast("string").alias("housenumber"),
            F.col("apenalty").alias("penalty"),
            F.lit(0.0).alias("text_dist"),
        )
        all_hits = all_hits.unionByName(pc_hits)

    # unbounded viewbox: results outside the box survive but carry a
    # penalty (db_searches/base.py viewbox handling)
    if viewbox is not None and not bounded_viewbox:
        vx0, vy0, vx1, vy1 = viewbox
        outside = ~(
            F.col("lon").between(vx0, vx1) & F.col("lat").between(vy0, vy1)
        )
        all_hits = all_hits.withColumn(
            "penalty",
            F.col("penalty") + F.when(outside, F.lit(1.0)).otherwise(F.lit(0.0)),
        )

    # ---- near-item chaining (NearSearch wrap, db_search_builder.py:
    # 86-118 + db_searches/near_search.py): assignments carrying a
    # near_key resolve their name/addr as an ANCHOR, then the hit becomes
    # the nearest place of the requested category around it (J18's
    # disk-cell join — never an all-pairs product).  Category-only
    # assignments become a PoiSearch, valid only with a bounded viewbox
    # (build_poi_search:121-128).  The flagship path short-circuits on
    # the single batched metadata probe taken right after the parse.
    nk = q.filter(
        F.col("near_key").isNotNull() & (F.col("name_norm") != "")
    ).select("query_id", "assign_id", "near_key")
    qpoi = q.filter(
        F.col("near_key").isNotNull() & (F.col("name_norm") == "")
    ).select("query_id", "assign_id", "near_key", "apenalty")
    has_poi = viewbox is not None and bounded_viewbox and has_poi
    if has_near or has_poi:
        from nominatim_spark.operators.spatial import within_distance_join

        px = idx.placex
        if "linked_place_id" in px.columns:
            px = px.filter(F.col("linked_place_id").isNull())
        if countries:
            px = px.filter(F.lower(F.col("country_code")).isin(
                [c.lower() for c in countries]))
        cats = px.select(
            F.col("place_id").alias("c_pid"),
            F.col("osm_type").alias("c_ot"), F.col("osm_id").alias("c_oid"),
            F.col("class").alias("c_cls"), F.col("type").alias("c_typ"),
            F.col("rank_search").alias("c_rs"),
            F.col("rank_address").alias("c_ra"),
            F.coalesce(F.col("importance"), F.lit(0.0)).alias("c_imp"),
            F.col("lon").alias("c_lon"), F.col("lat").alias("c_lat"),
            F.concat_ws("|", "class", "type").alias("c_key"),
        )

        def _cat_hit_cols(pen_col, id_col="c_pid"):
            return [
                "query_id", "assign_id",
                F.col(id_col).alias("place_id"),
                F.col("c_ot").alias("osm_type"),
                F.col("c_oid").alias("osm_id"),
                F.col("c_cls").alias("class"), F.col("c_typ").alias("type"),
                F.col("c_rs").alias("rank_search"),
                F.col("c_ra").alias("rank_address"),
                F.col("c_imp").alias("importance"),
                F.col("c_lon").alias("lon"), F.col("c_lat").alias("lat"),
                F.lit(None).cast("string").alias("housenumber"),
                pen_col.alias("penalty"),
                F.lit(0.0).alias("text_dist"),
            ]

    if has_near:
        anchors = (
            all_hits.join(nk, ["query_id", "assign_id"])
            .groupBy("query_id", "assign_id", "near_key")
            .agg(F.expr(
                "min_by(struct(lon, lat, penalty), "
                "struct(penalty, text_dist, -importance, place_id))"
            ).alias("_a"))
            .select(
                "query_id", "assign_id", "near_key",
                F.concat_ws("#", F.col("query_id").cast("string"),
                            F.col("assign_id").cast("string")).alias("_akey"),
                F.col("_a.lon").alias("lon"), F.col("_a.lat").alias("lat"),
                F.col("_a.penalty").alias("a_pen"),
            )
        )
        near_cats = cats.join(
            F.broadcast(
                nk.select(F.col("near_key").alias("c_key")).distinct()),
            "c_key", "left_semi",
        )
        nh = within_distance_join(
            anchors.select("_akey", "lon", "lat"),
            near_cats.select(F.col("c_pid").alias("cand_id"),
                             F.col("c_lon").alias("lon"),
                             F.col("c_lat").alias("lat")),
            radius_deg=near_radius_deg,
            point_key="_akey", cand_key="cand_id",
        )
        nh = (
            nh.join(anchors.select("_akey", "query_id", "assign_id",
                                   "near_key", "a_pen"), "_akey")
            .join(near_cats.withColumnRenamed("c_pid", "cand_id"), "cand_id")
            .filter(F.col("c_key") == F.col("near_key"))
        )
        wn = Window.partitionBy("_akey").orderBy("dist2", "cand_id")
        near_hits = (
            nh.withColumn("_rn", F.row_number().over(wn))
            .filter("_rn = 1")
            .select(*_cat_hit_cols(F.col("a_pen"), id_col="cand_id"))
        )
        all_hits = all_hits.join(
            nk.select("query_id", "assign_id"),
            ["query_id", "assign_id"], "left_anti",
        ).unionByName(near_hits)
    if has_poi:
        vx0, vy0, vx1, vy1 = viewbox
        poi_hits = (
            qpoi.join(cats.withColumnRenamed("c_key", "near_key"),
                      "near_key")
            .filter(F.col("c_lon").between(vx0, vx1)
                    & F.col("c_lat").between(vy0, vy1))
            .select(*_cat_hit_cols(F.col("apenalty")))
        )
        all_hits = all_hits.unionByName(poi_hits)

    # penalty already folds the assignment penalty (weigh_search analog:
    # the cheapest assignment whose lanes matched wins, ranking.sql:327-345)
    return all_hits.drop("assign_id")


def geocode(spark, idx: IndexTables, queries: DataFrame, **kw) -> DataFrame:
    """Batch geocode: the best match for each input ``(query_id, text)`` row.

    The output has one row per input row whose text found a match; rows
    without a match and rows whose text is NULL yield no row.  A
    ``query_id`` that appears with several texts (a page with several
    address mentions) gets one row per text, so no mention is dropped.

    The call is eager: it runs the upstream ``queries`` plan, and the
    parse, plan and candidate stages of :func:`score_hits`, before it
    returns.  The returned frame holds the remaining work.

    Final ranking: lowest penalty, then importance desc, then stable id.
    min_by over an orderable struct = one hash aggregation (with map-side
    partial) instead of a sort + window — cheaper by a full sort and
    deterministic because (penalty, text_dist, -importance, place_id)
    ends in the unique place_id.  See score_hits for the lane DAG and the
    search knobs.

    The whole pipeline runs per DISTINCT query text, and the per-text
    best is joined back to the query ids at the end (guide §8: decide on
    the small proxy, attach the decision once).  Geocoding is a pure
    function of the text — every search knob is batch-global — so the
    results are identical, while a crawl workload, which mentions the
    same address on many pages, pays the parse/plan/candidate machinery
    once per distinct string instead of once per page.  Fully-unique
    batches pay one extra exchange of the (short) text column.
    """
    text_col = kw.get("text_col", "qtext")
    # materialize the (id, text) projection once: both the distinct and
    # the final attach join read it, so an expensive upstream (e.g. the
    # page-extraction mapInPandas) runs exactly once
    qsel = (
        queries.select("query_id", F.col(text_col).alias("_qtext"))
        .filter(F.col("_qtext").isNotNull())
        .localCheckpoint(eager=True)
    )
    # right-size the two consumers below from the MEASURED batch size:
    # they do trivial per-row work (hash, broadcast-probe), so ~1M rows
    # per task (the guide's ~100 MB partition band for short rows) is
    # plenty, and fewer map tasks shrink the (map x reduce) shuffle
    # block grid that dominates small batches (guide §2.2).  The count
    # is a cheap job over the checkpoint leaf; the target grows linearly
    # with the batch, so huge batches keep full parallelism.
    n_queries = qsel.count()
    target = max(1, min(-(-n_queries // 1_000_000),
                        qsel.rdd.getNumPartitions()))
    if target < qsel.rdd.getNumPartitions():
        qsel = qsel.coalesce(target)
    uniq = (
        qsel.select(F.col("_qtext").alias(text_col))
        .dropDuplicates([text_col])
        .withColumn("query_id", F.col(text_col))
    )
    all_hits = score_hits(spark, idx, uniq, **kw)
    val_cols = [c for c in all_hits.columns if c != "query_id"]
    best = all_hits.groupBy("query_id").agg(
        F.expr(
            "min_by(struct(" + ", ".join(val_cols) + "), "
            "struct(penalty, text_dist, -importance, place_id))"
        ).alias("_best")
    )
    per_text = best.select(F.col("query_id").alias("_qtext"), "_best.*")
    return qsel.join(per_text, "_qtext").drop("_qtext")


STRUCTURED_FIELDS = ("amenity", "street", "city", "county", "state",
                     "postalcode", "country")


def geocode_structured(spark, idx: IndexTables, queries: DataFrame,
                       **kw) -> DataFrame:
    """Structured /search (the reference's amenity/street/city/county/
    state/postalcode/country parameters, nominatim_api/core.py
    search_address → PHRASE_STREET.. phrase types): the typed fields
    become the comma-phrased reading in field order — the first present
    field is the name phrase, the rest address phrases, and the
    postalcode routes through the in-phrase postcode role.  One wrapper
    over the standard batch pipeline; a penalty-free re-expression of the
    reference's typed-phrase parse (icu_tokenizer.py phrase typing)."""
    cols = [c for c in STRUCTURED_FIELDS if c in queries.columns]
    if not cols:
        raise ValueError(
            f"no structured field column found (expected any of "
            f"{STRUCTURED_FIELDS})")
    qtext = F.concat_ws(", ", *[F.col(c) for c in cols])
    return geocode(spark, idx, queries.withColumn("qtext", qtext), **kw)


def geocode_all(spark, idx: IndexTables, queries: DataFrame, *,
                max_results: int = 10, epsilon: float = 0.5,
                dedupe: bool = True,
                rerank: bool = False, rerank_locales=None,
                rerank_addressline: DataFrame | None = None,
                **kw) -> DataFrame:
    """Batch geocode returning the ranked result LIST per query with the
    reference's adaptive cut (T4 — geocoder.py:174-191): results worse
    than best-penalty + ``epsilon`` are dropped, then the list is capped
    at ``max_results``.  Adds ``result_rank`` (1 = best).

    ``dedupe`` (default on, like the API's ``dedupe`` param) drops
    look-alike duplicates before the cap — same osm object, or same
    (osm_type, class, type, name, rank_address) classification
    (deduplicate_results, v1/helpers.py:126-151; norm_name stands in for
    the display name).  Keys of every visited row block later rows, so
    the window form matches the reference's sequential set semantics.

    ``rerank=True`` applies the reference's difflib ``rerank_by_query``
    pass (geocoder.py:213-248) over the final list — byte-parity word
    matching via an Arrow-batched UDF that only ever sees the top-k rows
    (see :mod:`nominatim_spark.pipeline.rerank`)."""
    all_hits = score_hits(spark, idx, queries, **kw)
    # a place can match through several assignments: keep its best row
    wp = Window.partitionBy("query_id", "place_id").orderBy(
        "penalty", "text_dist"
    )
    all_hits = (
        all_hits.withColumn("_rn", F.row_number().over(wp))
        .filter("_rn = 1").drop("_rn")
    )
    wq = Window.partitionBy("query_id")
    worder = wq.orderBy("penalty", "text_dist", F.col("importance").desc(),
                        "place_id")
    out = (
        all_hits.withColumn("_best_pen", F.min("penalty").over(wq))
        .filter(F.col("penalty") <= F.col("_best_pen") + F.lit(epsilon))
        .withColumn("result_rank", F.row_number().over(worder))
        .drop("_best_pen")
    )
    if dedupe:
        cls_cols = [c for c in ("osm_type", "class", "type", "norm_name",
                                "rank_address") if c in out.columns]
        wosm = Window.partitionBy("query_id", "osm_type", "osm_id") \
            .orderBy("result_rank")
        wcls = Window.partitionBy("query_id", *cls_cols) \
            .orderBy("result_rank")
        out = (
            out.withColumn("_d1", F.row_number().over(wosm))
            .withColumn("_d2", F.row_number().over(wcls))
            .filter((F.col("_d1") == 1) & (F.col("_d2") == 1))
            .withColumn("result_rank", F.row_number().over(worder))
            .drop("_d1", "_d2")
        )
    out = out.filter(F.col("result_rank") <= max_results)
    if rerank:
        from nominatim_spark.pipeline.rerank import rerank_by_query
        out = rerank_by_query(
            spark, idx, out, queries, locales=rerank_locales,
            addressline=rerank_addressline,
            text_col=kw.get("text_col", "qtext"))
    return out


def near_search(
    spark,
    idx: IndexTables,
    anchors: DataFrame,
    *,
    cls: str,
    typ: str | None = None,
    radius_deg: float = 0.02,
    k: int = 5,
    point_key: str = "anchor_id",
) -> DataFrame:
    """Category near-search (J18 — the reference's NearSearch,
    db_searches/near_search.py:75-135): for each anchor point, the ``k``
    nearest places of the requested class[/type] within ``radius_deg``.

    anchors: (point_key, lon, lat) — typically the result rows of a prior
    geocode/reverse step (the reference chains NearSearch after the anchor
    search the same way, db_search_builder.py near_item handling).

    Plan: disk-cell cover equi-join (bounded 5x5 block per anchor) + exact
    distance filter + per-anchor top-k window — never an all-pairs product.
    """
    from nominatim_spark.operators.spatial import within_distance_join

    placex = idx.placex
    if "linked_place_id" in placex.columns:
        placex = placex.filter(F.col("linked_place_id").isNull())
    cands = placex.filter(F.col("class") == cls)
    if typ is not None:
        cands = cands.filter(F.col("type") == typ)
    hits = within_distance_join(
        anchors, cands.select(F.col("place_id").alias("cand_id"), "lon", "lat"),
        radius_deg=radius_deg, point_key=point_key, cand_key="cand_id",
    )
    w = Window.partitionBy(point_key).orderBy("dist2", "cand_id")
    topk = (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(point_key, F.col("cand_id").alias("place_id"),
                "dist2", F.col("_rn").alias("rank"))
    )
    info = placex.select(
        "place_id", "osm_type", "osm_id", "class", "type",
        F.col("name").getItem("name").alias("name"), "lon", "lat",
    )
    return topk.join(info, "place_id")
