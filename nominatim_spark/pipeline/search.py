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
import itertools
import re

import pandas as pd
from pyspark.accumulators import AccumulatorParam
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


_PARSE_COLS = ("assign_id", "name_norm", "hnr", "addr_norm", "postcode",
               "apenalty", "adirection", "full_norm", "addr_phrases",
               "near_key", "qual_key", "addr_spans", "addr_paths",
               "addr_dflts", "pc_all")


def _parse_batch(qtext: pd.Series, pre=None, table=None) -> pd.DataFrame:
    rows = []
    for pos, q in enumerate(qtext):
        if pre is not None and q:
            q = pre(q)
        parsed = (_parse_rows_default(q) if table is None
                  else _parse_rows(q, table))
        for r in parsed:
            rows.append((pos,) + r)
    return pd.DataFrame(rows, columns=["_pos", *_PARSE_COLS])


# Lane flags: which conditional lanes of score_hits a batch needs.  The
# parse ORs each Arrow batch's flags into an accumulator, so no probe job
# runs after it; OR is idempotent, so a retried or recomputed task leaves
# them exact.
_SPLIT, _PC_NAME, _NEAR, _POI, _QUAL = 1, 2, 4, 8, 16


def _lane_bits(p: pd.DataFrame) -> int:
    named = p["name_norm"] != ""
    near = p["near_key"].notna()
    return int((p["adirection"] != 0).any() * _SPLIT
               | (p["postcode"].notna() & named).any() * _PC_NAME
               | (near & named).any() * _NEAR
               | (near & ~named).any() * _POI
               | p["qual_key"].notna().any() * _QUAL)


class _OrByKey(AccumulatorParam):
    """``{call key: lane bits}``, OR-merged.  One accumulator serves every
    call of a session; each call pops its own key."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, more):
        for k, bits in more.items():
            acc[k] = acc.get(k, 0) | bits
        return acc


_CALL_KEYS = itertools.count()


def _lane_flag_acc(sc):
    acc = sc.__dict__.get("_nspark_lane_flags")
    if acc is None:
        acc = sc._nspark_lane_flags = sc.accumulator({}, _OrByKey())
    return acc


def parse_queries(queries: DataFrame, text_col: str = "qtext",
                  preprocessors: list | None = None,
                  phrases=None, lane_flags=None) -> DataFrame:
    """Explode each query into its role assignments: one row per
    (query, assignment) with name_norm / hnr / addr_norm / postcode /
    apenalty / adirection columns (plus the full normalized query for the
    direction-penalty stats).  Comma-phrased queries produce one aligned
    assignment (plus the digit-kept-in-name dual reading when a trailing
    housenumber was split off — that reading dies before any posting join
    unless the digit really is an indexed name word).

    A row whose text already occurred in the same Arrow batch is not
    parsed again: it comes out once, with NULL assignment columns
    (``assign_id`` NULL), and the search attaches the text's answer to it.

    ``preprocessors``: query-preprocessing chain config (see
    pipeline/preprocess.py) applied to each query text before
    assignment enumeration; defaults to the standard chain.
    ``phrases``: special-phrase table (pipeline/phrases.py) for the
    category readings; defaults to the built-in vocabulary.  The table
    ships to the workers inside the task closure (a few KB).
    ``lane_flags``: optional ``(accumulator, key)`` pair (see
    _lane_flag_acc); each batch ORs its _lane_bits in under ``key``."""
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
            first = ~pdf[text_col].duplicated().to_numpy()
            heads = pdf[first].reset_index(drop=True)
            parsed = _parse_batch(heads[text_col], pre=pre, table=phrases)
            if lane_flags is not None:
                acc, key = lane_flags
                acc.add({key: _lane_bits(parsed)})
            yield pd.concat(
                [heads.iloc[parsed["_pos"]].reset_index(drop=True),
                 parsed.drop(columns=["_pos"])],
                axis=1,
            )
            if not first.all():
                yield pdf[~first].assign(**dict.fromkeys(_PARSE_COLS))

    return queries.mapInPandas(run, schema=schema)


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


# ---- per-call fixed cost.  Every Column node costs py4j round trips and
# every DataFrame transformation an analysis pass on the JVM; rebuilding
# the same search plan took ~5,000 round trips (~0.5 s) per call.  So the
# parts that do not depend on the batch are built once: Column trees per
# Spark session, input-schema flags and the tunable constants above (read
# at call time, so patching them takes effect), and projections of the
# long-lived index tables on the DataFrame object itself.
def _per_session(build):
    cache: dict = {}

    @functools.wraps(build)
    def get(spark, *flags):
        key = (spark, W_LOOKUP_MIN_COUNT, DIRECT_DICT_MAX, *flags)
        if key not in cache:
            cache[key] = build(*flags)
        return cache[key]
    return get


def _memo(df: DataFrame, key, build):
    """``build(df)``, memoized on the DataFrame object under ``key``."""
    memo = df.__dict__.setdefault("_nspark_memo", {})
    if key not in memo:
        memo[key] = build(df)
    return memo[key]


def _word_count(word: DataFrame) -> int:
    """Row count of the word table: one job per table instance."""
    return _memo(word, "count", lambda w: w.count())


# LINFAC normalization table (query.py:23-24)
_LINFAC = [
    i * (sum(si * si for si in range(i)) - (i - 1) * i * (i - 1) / 4)
    for i in range(50)
]


@_per_session
def _fold_exprs():
    r = F.coalesce(F.col("r"), F.lit(0.5))
    n = F.col("_n")
    dirpen = (
        F.when(n <= 1, F.lit(0.0))
        .when(n >= 50, F.lit(0.0))
        .when(n == 2, (F.col("_r1") - F.col("_r0")) / 3)
        .otherwise(
            (n * F.col("_sir") - F.col("_sr") * n * (n - 1) / 2)
            / F.get(F.array(*map(F.lit, _LINFAC)), n.cast("int"))
        )
    )
    return dict(
        toks=F.posexplode(
            F.expr("filter(split(full_norm, ' '), w -> w <> '')")
        ).alias("pos", "_tok"),
        ratio=F.when(
            (F.col("name_count") + F.col("addr_count")) > 0,
            F.col("name_count") / (F.col("name_count") + F.col("addr_count")),
        ).otherwise(F.lit(0.5)).alias("r"),
        stats=[
            F.count(F.lit(1)).alias("_n"),
            F.sum(r).alias("_sr"),
            F.sum(F.col("pos") * r).alias("_sir"),
            F.max(F.when(F.col("pos") == 0, r)).alias("_r0"),
            F.max(F.when(F.col("pos") == 1, r)).alias("_r1"),
        ],
        dirpen=dirpen.alias("_dirpen"),
        apenalty=F.col("apenalty") + F.when(
            (F.col("adirection") == 1) & (F.col("_dirpen") > 0),
            F.col("_dirpen"),
        ).when(
            (F.col("adirection") == -1) & (F.col("_dirpen") < 0),
            -F.col("_dirpen"),
        ).otherwise(F.lit(0.0)),
    )


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
    # only queries with split assignments can absorb the penalty — for
    # comma-phrased workloads (the flagship path) there are none and the
    # whole fold short-circuits (``enabled`` carries the lane flag from
    # the parse; standalone callers probe here)
    if "name_count" not in word.columns or enabled is False:
        return q
    split_q = q.filter(F.col("adirection") != 0).select("query_id").distinct()
    if enabled is None and split_q.isEmpty():
        return q
    ex = _fold_exprs(q.sparkSession)
    toks = (
        q.select("query_id", "full_norm").distinct()
        .join(split_q, "query_id", "left_semi")
        .select("query_id", ex["toks"])
    )
    # the stats dictionary is bounded by the batch's distinct tokens
    # BEFORE the broadcast — never the whole partial vocabulary (same
    # batch-bounding + small-table shortcut as _batch_word_dict)
    w = _memo(word, "ratio", lambda wd: wd.filter(F.col("type") == "w")
              .select(F.col("word_token").alias("_tok"), ex["ratio"]))
    if _word_count(word) > DIRECT_DICT_MAX:
        w = w.join(
            F.broadcast(toks.select("_tok").distinct()), "_tok", "left_semi",
        )
    dirp = (toks.join(F.broadcast(w), "_tok", "left")
            .groupBy("query_id").agg(*ex["stats"])
            .select("query_id", ex["dirpen"]))
    return (q.join(dirp, "query_id", "left")
            .withColumn("apenalty", ex["apenalty"]).drop("_dirpen"))


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
    def both_slices(word):
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
        return w_part.unionByName(w_full)

    wdict = _memo(word, ("wdict", has_stats), both_slices)
    if _word_count(word) <= DIRECT_DICT_MAX:
        return wdict
    return wdict.join(
        F.broadcast(toks.select("_tok", "_ty").distinct()),
        ["_tok", "_ty"], "left_semi",
    )


_TOK = "struct<_tok:string,_ty:string,_role:string,_pos:int,_plen:int>"


@_per_session
def _plan_exprs(has_spans: bool, has_qual: bool, has_pc: bool,
                has_hnr: bool):
    """The static Column trees of _plan_assignments."""
    def tok(t, ty, role, pos=F.lit(0), plen=F.lit(0)):
        return F.struct(t.alias("_tok"), F.lit(ty).alias("_ty"),
                        F.lit(role).alias("_role"), pos.alias("_pos"),
                        plen.alias("_plen"))

    parts = [
        F.transform(F.expr("filter(split(name_norm, ' '), w -> w <> '')"),
                    lambda w: tok(w, "w", "n")),
        F.transform(F.expr("filter(split(addr_norm, ' '), w -> w <> '')"),
                    lambda w: tok(w, "w", "a")),
        F.when(F.col("name_norm") != "",
               F.array(tok(F.col("name_norm"), "W", "f")))
        .otherwise(F.expr("array()").cast(f"array<{_TOK}>")),
    ]
    if has_spans:
        # one W probe per ladder SPAN (sub-span full-word readings of
        # each address phrase — get_addr_ranking's path vocabulary);
        # trivial ladders (addr_spans null) probe the whole phrases
        parts.append(F.coalesce(
            F.transform(F.col("addr_spans"),
                        lambda s: tok(s["txt"], "W", "p", s["pos"], s["sid"])),
            F.transform(F.col("addr_phrases"),
                        lambda p, i: tok(p, "W", "p", i)),
        ))
    qual = (F.col("qual_key") if has_qual
            else F.lit(None).cast("string")).alias("qual_key")
    pcflag = ((F.col("postcode").isNotNull() & (F.col("name_norm") != ""))
              if has_pc else F.lit(False)).alias("_pcf")
    paths = (F.col("addr_paths") if has_spans else F.expr("array()").cast(
        "array<struct<pos:int,pen:double,sids:array<int>>>"))
    dflts = (F.col("addr_dflts") if has_spans
             else F.expr("array()").cast("array<double>"))
    hnr = (F.col("hnr") if has_hnr
           else F.lit(None).cast("string")).alias("hnr")
    first = F.col("_ti") == 0
    name, addr = F.col("_role") == "n", F.col("_role") == "a"
    hit = F.col("_wid").isNotNull()

    def n_of(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    return dict(
        explode=[
            "query_id", "assign_id", "apenalty", qual, pcflag, hnr,
            "name_norm", F.posexplode(F.concat(*parts)).alias("_ti", "_t"),
            paths.alias("_ap"), dflts.alias("_ad"),
        ],
        # the ladder arrays ride ONLY the first exploded row of each
        # assignment (posexplode index 0) — attaching them to every token
        # row would duplicate them through the explode and shuffle N
        # copies into the groupBy (measured ~20% of the flagship
        # parse-plan wall).  hnr/name_norm ride it too, so the downstream
        # lanes need no join back to the parse output — the housenumber
        # and plain lanes become pure filters over the candidate set
        tokens=[
            "query_id", "assign_id", "apenalty", "qual_key", "_pcf",
            F.when(first, F.col("_ap")).alias("addr_paths"),
            F.when(first, F.col("_ad")).alias("addr_dflts"),
            F.when(first, F.col("hnr")).alias("_hnr0"),
            F.when(first, F.col("name_norm")).alias("_nn0"),
            "_t.*",
        ],
        agg=[
            F.first("apenalty").alias("apenalty"),
            F.first("qual_key").alias("qual_key"),
            F.first("_pcf").alias("pc_flagged"),
            n_of(name).alias("_n_name"),
            n_of(name & hit).alias("_n_name_hit"),
            n_of(addr).alias("_n_addr"),
            n_of(addr & hit).alias("_n_addr_hit"),
            F.array_sort(F.collect_list(F.when(name, F.col("_wid"))))
            .alias("name_ids"),
            F.array_sort(F.collect_list(F.when(addr, F.col("_wid"))))
            .alias("addr_ids"),
            F.expr(
                "min_by(CASE WHEN _role = 'n' THEN _wid END, "
                "CASE WHEN _role = 'n' AND _wid IS NOT NULL "
                "THEN struct(_wcount, _wid) END)"
            ).alias("_drive_w"),
            F.min(F.when(name, F.col("_wcount"))).alias("_drive_count"),
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
        ],
        matched=((F.col("_n_name") > 0)
                 & (F.col("_n_name_hit") == F.col("_n_name"))
                 & (F.col("_n_addr_hit") == F.col("_n_addr"))),
        smap=F.expr(
            "map_from_entries(transform(_span_hits, "
            "h -> struct(h.pos * 100 + h.sid, h.wid)))"
        ).alias("_smap"),
        out=[
            "query_id", "assign_id", "apenalty", "qual_key", "pc_flagged",
            "hnr", "name_norm", "name_ids", "addr_ids",
            F.when(
                F.col("_w_full_id").isNotNull()
                & (F.col("_drive_count") >= W_LOOKUP_MIN_COUNT),
                F.col("_w_full_id"),
            ).otherwise(F.col("_drive_w")).alias("drive_id"),
            F.col("_w_full_id").alias("name_full_id"),
            F.col("_n_name").alias("n_name"),
            # the per-phrase ranking ladder: each path's span ids are
            # resolved through the probe results; a path with any
            # unindexed span can never match and is dropped (weigh_search
            # only consults materialized token sets, ranking.sql:327-345)
            F.expr(
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
                "array(struct(CAST(0.0 AS DOUBLE) AS pen, "
                "array(h.wid) AS ids)), "
                "CAST(array() AS array<struct<pen:double,ids:array<bigint>>>)"
                ") AS entries)) "
                "ELSE NULL END"
            ).alias("addr_ranks"),
        ],
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
    form cost an extra shuffle + two joins per batch.  Repeated
    (query_id, assign_id) rows (one text parsed in two Arrow batches)
    collapse first; that exchange also partitions the groupBy.
    """
    cols = q.columns
    ex = _plan_exprs(q.sparkSession, "addr_spans" in cols,
                     "qual_key" in cols, "postcode" in cols, "hnr" in cols)
    toks = (q.dropDuplicates(["query_id", "assign_id"])
            .select(*ex["explode"]).select(*ex["tokens"]))
    wdict = _batch_word_dict(word, toks,
                             has_stats="name_count" in word.columns)
    return (
        toks.join(F.broadcast(wdict), ["_tok", "_ty"], "left")
        .groupBy("query_id", "assign_id").agg(*ex["agg"])
        .filter(ex["matched"])
        .select("*", ex["smap"])
        .select(*ex["out"])
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


# the columns of every hit row after the query key (score_hits's union)
_HIT_COLS = ("place_id", "osm_type", "osm_id", "class", "type",
             "rank_search", "rank_address", "importance", "lon", "lat",
             "housenumber", "penalty", "text_dist")


@_per_session
def _search_exprs(text_col: str):
    """The static Column trees of score_hits and geocode."""
    named = F.col("name_norm") != ""
    pc_readings = F.explode(F.transform("pc_all", lambda p: F.upper(p)))

    def hit(place_id, osm_type, osm_id, cls, typ, rank_search, rank_address,
            importance, lon, lat, housenumber, penalty, text_dist):
        return ["query_id", "assign_id", *(
            (F.col(c) if isinstance(c, str) else c).alias(n) for c, n in zip(
                (place_id, osm_type, osm_id, cls, typ, rank_search,
                 rank_address, importance, lon, lat, housenumber, penalty,
                 text_dist), _HIT_COLS))]

    none = F.lit(None).cast("string")
    cand_cols = ("place_id", "osm_type", "osm_id", "class", "type",
                 "rank_search", "rank_address", "importance", "lon", "lat")
    text_dist = F.round(
        F.levenshtein("name_norm", "norm_name")
        / F.greatest(F.length("name_norm"), F.length("norm_name"), F.lit(1)),
        6,
    )
    min_dist = F.expr(
        "array_min(transform(_cents, c -> "
        "sqrt((c.lon - lon) * (c.lon - lon) + "
        "(c.lat - lat) * (c.lat - lat))))"
    )
    cat_cols = ("c_pid", "c_ot", "c_oid", "c_cls", "c_typ", "c_rs", "c_ra",
                "c_imp", "c_lon", "c_lat")
    return dict(
        src=["query_id", F.col(text_col).alias("_qtext")],
        has_text=F.col("_qtext").isNotNull(),
        # the same rows as coalesce(assign_id, 0) = 0, written so that
        # Spark's runtime bloom-filter rule does not read it as selective:
        # it would build a filter from the ids into every lane of the
        # final join (an extra job and MBs of task binary per call)
        id_row=F.col("assign_id").isNull() | (F.col("assign_id") == 0),
        assign_row=F.col("assign_id").isNotNull(),
        q=[F.col("_qtext").alias("query_id"), *_PARSE_COLS],
        lookup_all=F.expr(
            "forall(name_ids, i -> array_contains(name_vector, i)) AND "
            "(size(addr_ids) = 0 OR "
            "forall(addr_ids, i -> array_contains(nameaddress_vector, i)))"),
        # qualifier restrict (place_search.py qualifier filter): a
        # category-word reading keeps only candidates of that class/type
        qual=(F.col("qual_key").isNull()
              | (F.concat_ws("|", "class", "type") == F.col("qual_key"))),
        cand=[
            "place_id", "query_id", "assign_id", "pc_flagged", "hnr",
            "name_norm", *cand_cols[1:], "norm_name", "own_pc",
            # weigh_search (ranking.sql:327-345): fold the per-assignment
            # FieldRanking penalties — 0 when the candidate's vector holds
            # the query's full-word token, the ranking default otherwise.
            # Folded into apenalty so every downstream lane
            # (house/interp/fallback) inherits it, like the reference's
            # AddressSearch does.
            (F.col("apenalty")
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
             )).alias("apenalty"),
        ],
        # no postcode table: a name assignment that consumed a token as
        # a postcode cannot verify it — charge the unknown-postcode
        # penalty (2.0, same as the with-table miss) so readings that
        # actually match the token (housenumber, address word) outrank
        # it.  The flag rode through the plan agg — no join here.
        pc_unverified=F.col("apenalty") + F.when(
            F.col("pc_flagged"), F.lit(2.0)).otherwise(F.lit(0.0)),
        pc_named=F.col("postcode").isNotNull() & named,
        qpc=["query_id", "assign_id", pc_readings.alias("_qpc"),
             (F.col("addr_norm") != "").alias("_has_addr")],
        qpc_cents=F.collect_list(F.struct("lon", "lat")).alias("_cents"),
        qpc_agg=[F.collect_set("_qpc").alias("_qpcs"),
                 F.flatten(F.collect_list("_cents")).alias("_cents"),
                 F.first("_has_addr").alias("_has_addr")],
        pc_penalty=F.col("apenalty")
        + F.when(F.col("_qpcs").isNull(), F.lit(0.0))
        .when(F.array_contains("_qpcs", F.upper("own_pc")), F.lit(0.0))
        .when(~F.col("_has_addr"), F.lit(1.0))
        .otherwise(F.coalesce(min_dist, F.lit(2.0))),
        street=(F.col("hnr").isNotNull()
                & F.col("rank_search").between(26, 27)),
        house_on=((F.col("place_id") == F.col("street_id"))
                  & (F.col("hnr") == F.col("h_hnr"))),
        house=hit("house_id", "h_osm_type", "h_osm_id", F.lit("building"),
                  F.lit("yes"), F.lit(30), F.lit(30), F.lit(0.0), "h_lon",
                  "h_lat", "hnr", "apenalty", F.lit(0.0)),
        line_on=F.col("place_id") == F.col("street_id"),
        in_range=(
            (F.col("hnr").cast("int") >= F.col("startnumber"))
            & (F.col("hnr").cast("int") <= F.col("endnumber"))
            & ((F.col("hnr").cast("int") - F.col("startnumber"))
               % F.col("step") == 0)),
        interp=hit("osmline_id", F.lit("W"), "osmline_id", F.lit("place"),
                   F.lit("houses"), F.lit(30), F.lit(30),
                   F.lit(-0.1),  # below exact house matches
                   "mid_lon", "mid_lat", "hnr",
                   F.lit(1.0) + F.col("apenalty"), F.lit(0.0)),
        plain_rows=F.col("hnr").isNull(),
        plain=hit(*cand_cols, none, "apenalty", F.when(
            F.col("name_norm").isNull() | F.col("norm_name").isNull(),
            F.lit(1.0)).otherwise(text_dist)),
        fallback=hit(*cand_cols, none, F.lit(2.0) + F.col("apenalty"),
                     F.lit(0.0)),
        # one PostcodeSearch per country reading (the reference emits one
        # per outcode in the parsed set, postcode_parser.py:85-110) —
        # '45325' resolves against both the identity and '453 25' rows
        pc_only=F.col("postcode").isNotNull() & ~named,
        qp=["query_id", "assign_id", "apenalty",
            pc_readings.alias("postcode")],
        pc_hit=hit(
            # postcodes live outside the placex id space: namespace bit 3
            # like osmline, but negative to stay disjoint from it as well
            -F.abs(F.xxhash64("pc_cc", "postcode")), F.lit("P"),
            F.lit(None).cast("long"), F.lit("place"), F.lit("postcode"),
            F.col("pc_rs").cast("int"), F.col("pc_ra").cast("int"),
            F.lit(0.0), "pc_lon", "pc_lat", none, "apenalty", F.lit(0.0)),
        near_rows=F.col("near_key").isNotNull() & named,
        poi_rows=F.col("near_key").isNotNull() & ~named,
        anchor=F.expr(
            "min_by(struct(lon, lat, penalty), "
            "struct(penalty, text_dist, -importance, place_id))"
        ).alias("_a"),
        anchor_cols=[
            "query_id", "assign_id", "near_key",
            F.concat_ws("#", F.col("query_id").cast("string"),
                        F.col("assign_id").cast("string")).alias("_akey"),
            F.col("_a.lon").alias("lon"), F.col("_a.lat").alias("lat"),
            F.col("_a.penalty").alias("a_pen"),
        ],
        near=hit("cand_id", *cat_cols[1:], none, "a_pen", F.lit(0.0)),
        poi=hit(*cat_cols, none, "apenalty", F.lit(0.0)),
        out=[F.col("query_id").alias("_qtext"), *_HIT_COLS],
        best=F.expr(
            "min_by(struct(" + ", ".join(_HIT_COLS) + "), "
            "struct(penalty, text_dist, -importance, place_id))"
        ).alias("_best"),
    )


def _candidate_side(search_name: DataFrame, countries) -> DataFrame:
    """The search_name columns the candidate stage reads."""
    if countries:
        if "country_code" not in search_name.columns:
            raise ValueError(
                "countries= filter requires a country_code column on "
                "search_name")
        search_name = search_name.filter(F.lower(F.col("country_code"))
                                         .isin([c.lower() for c in countries]))
    return search_name.select(
        "place_id", "osm_type", "osm_id", "class", "type", "rank_search",
        "rank_address", "importance", "lon", "lat", "norm_name",
        "name_vector", "nameaddress_vector",
        (F.col("postcode") if "postcode" in search_name.columns
         else F.lit(None).cast("string")).alias("own_pc"),
    )


def _houses(search_name: DataFrame) -> DataFrame:
    """One row per (house, housenumber): clean_housenumbers splits
    "2;4;6" lists, so a house matches any of its numbers."""
    if "housenumbers" in search_name.columns:
        rows = search_name.filter(F.size("housenumbers") > 0)
        hnr = F.explode("housenumbers")
    else:
        rows = search_name.filter(F.col("housenumber").isNotNull())
        hnr = F.col("housenumber")
    return rows.select(
        F.col("parent_place_id").alias("street_id"),
        F.col("place_id").alias("house_id"),
        hnr.alias("h_hnr"),
        F.col("lon").alias("h_lon"),
        F.col("lat").alias("h_lat"),
        F.col("osm_type").alias("h_osm_type"),
        F.col("osm_id").alias("h_osm_id"),
    )


def _categories(placex: DataFrame, countries) -> DataFrame:
    """Near/POI category candidates (unlinked places)."""
    if "linked_place_id" in placex.columns:
        placex = placex.filter(F.col("linked_place_id").isNull())
    if countries:
        placex = placex.filter(F.lower(F.col("country_code")).isin(
            [c.lower() for c in countries]))
    return placex.select(
        F.col("place_id").alias("c_pid"),
        F.col("osm_type").alias("c_ot"), F.col("osm_id").alias("c_oid"),
        F.col("class").alias("c_cls"), F.col("type").alias("c_typ"),
        F.col("rank_search").alias("c_rs"),
        F.col("rank_address").alias("c_ra"),
        F.coalesce(F.col("importance"), F.lit(0.0)).alias("c_imp"),
        F.col("lon").alias("c_lon"), F.col("lat").alias("c_lat"),
        F.concat_ws("|", "class", "type").alias("c_key"),
    )


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
) -> tuple[DataFrame, DataFrame]:
    """All scored candidate hits per query text (the ranked union the
    final top-1/top-k cuts operate on), and the rows to attach them to.

    Returns ``(ids, hits)``: ``ids`` holds one ``(query_id, _qtext)`` row
    per input row whose text is not NULL; ``hits`` holds the hits, keyed
    by ``_qtext``.  The lanes run once per DISTINCT text, and the callers
    join the per-text decision back to the ids (guide §8: decide on the
    small proxy, attach the decision once).  Geocoding is a pure function
    of the text — every search knob is batch-global — so the answers are
    those of a per-row search, while a crawl batch, which mentions the
    same address on many pages, pays the machinery once per distinct
    string instead of once per page.

    Every lane operates per (text, assign_id) — one row per role
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
    lane exchanges.

    Three stages run eagerly, each as one ``localCheckpoint``: the parse,
    the plan and the candidate set."""
    ex = _search_exprs(spark, text_col)
    # the parse reads the caller's rows and runs the Python parse in ONE
    # job (a Python-backed input costs one Python stage, not two) and
    # reports the lane flags through the accumulator.  localCheckpoint:
    # every downstream lane's logical plan then starts from a leaf RDD
    # rather than embedding the whole mapInPandas subtree, which cuts the
    # per-action Catalyst/cache-lookup time on the driver (guide §3.3:
    # materialise to truncate the plan)
    flags, key = _lane_flag_acc(spark.sparkContext), next(_CALL_KEYS)
    try:
        parsed = parse_queries(
            queries.select(*ex["src"]).filter(ex["has_text"]), "_qtext",
            preprocessors=preprocessors, phrases=phrases,
            lane_flags=(flags, key),
        ).localCheckpoint(eager=True)
    finally:
        lanes = flags.value.pop(key, 0)
    ids = parsed.filter(ex["id_row"]).select("query_id", "_qtext")
    # the per-text assignments, keyed by the text; a text parsed in
    # several Arrow batches repeats here (the plan collapses it, and every
    # other reader below tolerates it)
    q = parsed.filter(ex["assign_row"]).select(*ex["q"])

    # ---- planned lookup (J1 LookupAll + J3 Restrict, stats-driven):
    # ONE posting join, driven by each assignment's rarest name token
    # (or its full-name 'W' token when partials are too frequent — see
    # _plan_assignments).  The LookupAll remainder and the entire address
    # Restrict run as JVM array_contains filters against the candidate's
    # own name_vector/nameaddress_vector — address tokens are
    # anti-selective (a city name posts on every place in the city), so
    # keeping them out of the join is load-bearing at scale (measured 6x).
    # The direction fold only changes split readings' penalties, which
    # only the plan reads.
    plan = _plan_assignments(
        _fold_direction_penalty(q, idx.word, enabled=bool(lanes & _SPLIT)),
        idx.word,
    ).localCheckpoint(eager=True)
    # pre-filter the posting table by the batch's distinct DRIVE ids (a
    # bounded broadcast) so the posting shuffle moves only the rarest-token
    # rows — strictly fewer than round 2's all-query-token prefilter
    drive_posts = _memo(
        idx.name_postings, "drive",
        lambda p: p.select(F.col("word_id").alias("drive_id"), "place_id"),
    ).join(F.broadcast(plan.select("drive_id").distinct()), "drive_id",
           "left_semi")
    sn = _memo(idx.search_name, ("cand", tuple(countries or ())),
               lambda s: _candidate_side(s, countries))
    # materialize the candidate set once: the house / interpolation /
    # fallback branches below all reuse it, and Spark does not reuse
    # exchanges across differently-projected union branches — without this
    # the whole posting-join subtree runs 3-4x (measured 63s -> ~20s)
    cand = plan.join(drive_posts, "drive_id").join(sn, "place_id") \
        .filter(ex["lookup_all"])
    if lanes & _QUAL:
        cand = cand.filter(ex["qual"])
    cand = cand.select(*ex["cand"])
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
    if lanes & _PC_NAME and postcodes is None:
        cand = cand.withColumn("apenalty", ex["pc_unverified"])
    elif lanes & _PC_NAME:
        # every country reading of the assignment's postcode token
        # (pc_all, canonical first — postcode_parser.py keeps the full
        # outcode set), exploded for the table join then re-aggregated to
        # ONE row per assignment so the candidate set never multiplies
        qpc = q.filter(ex["pc_named"]).select(*ex["qpc"])
        pc_cents = (
            _memo(postcodes, "upper",
                  lambda p: p.withColumn("_qpc", F.upper("postcode")))
            .join(F.broadcast(qpc.select("_qpc").distinct()),
                  "_qpc", "left_semi")
            .groupBy("_qpc").agg(ex["qpc_cents"])
        )
        # fold the readings back to one row per assignment: the set of
        # reading spellings (own-postcode equality check) and the union
        # of every matched reading's centroids (distance penalty takes
        # the min over ALL interpretations, matching the reference's
        # best-of-outcode-set ranking)
        qpc_agg = (
            qpc.join(F.broadcast(pc_cents), "_qpc", "left")
            .groupBy("query_id", "assign_id").agg(*ex["qpc_agg"])
        )
        cand = (
            cand.join(qpc_agg, ["query_id", "assign_id"], "left")
            .withColumn("apenalty", ex["pc_penalty"])
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
    street_cand = cand.filter(ex["street"])
    house_hits = street_cand.join(
        _memo(idx.search_name, "houses", _houses), ex["house_on"],
    ).select(*ex["house"])

    # queries WITHOUT housenumber: plain candidates with a fuzzy text-
    # distance rerank term playing the role of the reference's difflib
    # opcode distance (geocoder.py:213-259): among candidates that all
    # AND-match the query tokens, the one whose full name is closest to
    # the query wins before importance is consulted.  Normalized
    # levenshtein is used instead of difflib's ratio because it runs
    # JVM-side (built-in, codegen) — a difflib pandas UDF measured +11s on
    # the 100k-page flagship; both are edit-distance rerankers and the
    # candidates already share every query token.
    plain = cand.filter(ex["plain_rows"]).select(*ex["plain"])
    # hnr queries where no house/interp matched: fall back to the street
    street_fallback = street_cand.select(*ex["fallback"])

    all_hits = plain.unionByName(house_hits).unionByName(street_fallback)
    if osmline is not None:
        lines = _memo(osmline, "lines", lambda o: o.select(
            F.col("parent_place_id").alias("street_id"), "osmline_id",
            "startnumber", "endnumber", "step", "mid_lon", "mid_lat"))
        all_hits = all_hits.unionByName(
            street_cand.join(lines, ex["line_on"]).filter(ex["in_range"])
            .select(*ex["interp"]))

    # ---- postcode lane (PostcodeSearch, db_searches/postcode_search.py):
    # postcode-role assignments resolve against the postcode table; only
    # name-less assignments become a PostcodeSearch — with a name present
    # the postcode acts as a candidate penalty instead (see the
    # PlaceSearch block above; build_special_search:137-151)
    if postcodes is not None:
        pc = _memo(postcodes, "pc", lambda p: p.select(
            F.upper(F.col("postcode")).alias("postcode"),
            F.col("country_code").alias("pc_cc"),
            F.col("lon").alias("pc_lon"), F.col("lat").alias("pc_lat"),
            F.col("rank_search").alias("pc_rs"),
            F.col("rank_address").alias("pc_ra"),
        ))
        if countries:
            pc = pc.filter(F.lower(F.col("pc_cc")).isin(
                [c.lower() for c in countries]))
        all_hits = all_hits.unionByName(
            q.filter(ex["pc_only"]).select(*ex["qp"]).join(pc, "postcode")
            .select(*ex["pc_hit"]))

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
    # the lane flags the parse reported.
    has_poi = viewbox is not None and bounded_viewbox and lanes & _POI
    if lanes & _NEAR or has_poi:
        cats = _memo(idx.placex, ("cats", tuple(countries or ())),
                     lambda px: _categories(px, countries))
    if lanes & _NEAR:
        from nominatim_spark.operators.spatial import within_distance_join

        nk = q.filter(ex["near_rows"]).select(
            "query_id", "assign_id", "near_key")
        anchors = (
            all_hits.join(nk, ["query_id", "assign_id"])
            .groupBy("query_id", "assign_id", "near_key")
            .agg(ex["anchor"]).select(*ex["anchor_cols"])
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
            .select(*ex["near"])
        )
        all_hits = all_hits.join(
            nk.select("query_id", "assign_id"),
            ["query_id", "assign_id"], "left_anti",
        ).unionByName(near_hits)
    if has_poi:
        vx0, vy0, vx1, vy1 = viewbox
        all_hits = all_hits.unionByName(
            q.filter(ex["poi_rows"])
            .select("query_id", "assign_id", "near_key", "apenalty")
            .join(cats.withColumnRenamed("c_key", "near_key"), "near_key")
            .filter(F.col("c_lon").between(vx0, vx1)
                    & F.col("c_lat").between(vy0, vy1))
            .select(*ex["poi"]))

    # penalty already folds the assignment penalty (weigh_search analog:
    # the cheapest assignment whose lanes matched wins, ranking.sql:327-345)
    return ids, all_hits.select(*ex["out"])


def geocode(spark, idx: IndexTables, queries: DataFrame, **kw) -> DataFrame:
    """Batch geocode: the best match for each input ``(query_id, text)`` row.

    The output has one row per input row whose text found a match; rows
    without a match and rows whose text is NULL yield no row.  A
    ``query_id`` that appears with several texts (a page with several
    address mentions) gets one row per text, so no mention is dropped.

    The call is eager: before it returns, it runs three jobs with their
    sub-jobs (AQE shuffle stages, broadcasts), each a ``localCheckpoint``
    in :func:`score_hits` — the parse, which reads the upstream
    ``queries`` plan and runs the Python parse in one stage; the plan;
    and the candidate set.  The first call on a word table also counts
    its rows once.  The returned frame holds the remaining work: the
    lanes, the ranking and the attach join.

    Final ranking: lowest penalty, then importance desc, then stable id.
    min_by over an orderable struct = one hash aggregation (with map-side
    partial) instead of a sort + window — cheaper by a full sort and
    deterministic because (penalty, text_dist, -importance, place_id)
    ends in the unique place_id.  See score_hits for the lane DAG, the
    per-distinct-text evaluation and the search knobs.
    """
    ids, hits = score_hits(spark, idx, queries, **kw)
    best = hits.groupBy("_qtext").agg(
        _search_exprs(spark, kw.get("text_col", "qtext"))["best"])
    return ids.join(best.select("_qtext", "_best.*"), "_qtext") \
        .drop("_qtext")


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
    ids, hits = score_hits(spark, idx, queries, **kw)
    all_hits = ids.join(hits, "_qtext").drop("_qtext")
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
