"""Seeded inputs and their ground truth for the benchmark workloads.

Everything here is plain Python driven by ``random.Random(seed)``: the same
seed always yields the same pages and requests, and the program under test
only ever sees the generated rows.  The address universe is the synthetic
country of ``nominatim_spark.sources.synth`` at the scale in ``SCALE``; the
expected answer of every generated text follows from the same
arithmetic as ``synth.expected_target``.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

from nominatim_spark.sources import synth

# index scale: the flagship default (build_synth_index)
SCALE = dict(n_cities=8, n_streets=12, n_houses=10, n_pois=5)

CRAWL_PAGES = 10_000      # pages per crawl batch
MENTION_SHARE = 0.5       # share of pages that carry an address mention
GEO_SHARE = 0.2           # share of pages that carry a geo meta tag
HOT_CITY_SHARE = 0.3      # share of mentions that name a place in city 0
PAGE_BYTES = 2_000        # target html size of one page

# kinds of place text: a house in its plain and its postcode-bearing
# form, a street, a POI, a city; and their mix in crawl mentions
KINDS = ("house", "house_pc", "street", "poi", "city")
_KIND_WEIGHTS = (0.4, 0.15, 0.2, 0.15, 0.1)

_FILLER = (
    "the regional trade fair reported steady growth in local crafts",
    "council minutes note that the new footbridge opened last spring",
    "visitors praised the market square and its restored tower clock",
    "the annual report lists repairs to the old municipal waterworks",
    "local archives mention a harvest festival held every autumn",
    "a new bus timetable adds evening services on weekdays",
    "the library extends its opening hours during exam season",
    "volunteers planted two hundred trees along the river path",
)
_LANGS = ("en", "de", "fr", "es", "it")
_EPOCH = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class Place:
    kind: str           # one of KINDS
    text: str           # a query text naming exactly this place
    ref: tuple          # (osm_type, osm_id) a correct answer returns
    city: int


def universe() -> list[Place]:
    """Every searchable text of the synthetic country with its answer:
    each house in both its plain and postcode-bearing form, every street,
    POI and city."""
    out = []
    for i in range(SCALE["n_cities"]):
        cname = synth.city_name(i)
        for j in range(SCALE["n_streets"]):
            sname = synth.street_name(i, j)
            sid = 10000 + i * 100 + j
            for k in range(SCALE["n_houses"]):
                ref = ("N", 1000000 + sid * 100 + k)
                out.append(Place("house", f"{sname} {2 * k + 1}, {cname}",
                                 ref, i))
                out.append(Place(
                    "house_pc", f"{sname} {2 * k + 1}, 47{i:03d} {cname}",
                    ref, i))
            out.append(Place("street", f"{sname}, {cname}", ("W", sid), i))
        for p in range(SCALE["n_pois"]):
            out.append(Place("poi", f"{synth.poi_name(i, p)}, {cname}",
                             ("N", 100000 + i * 100 + p), i))
        out.append(Place("city", f"{cname}, {synth.COUNTRY_NAME}",
                         ("R", 100 + i), i))
    return out


def _by_city_kind(places: list[Place]) -> dict:
    groups: dict = {}
    for pl in places:
        groups.setdefault((pl.city, pl.kind), []).append(pl)
    return groups


# ------------------------------------------------------------------ crawl

@dataclass(frozen=True)
class CrawlBatch:
    rows: list[dict]                 # PAGES_SCHEMA rows
    truth: dict[str, Place | None]   # url -> mentioned place (or None)

    @property
    def n_pages(self) -> int:
        return len(self.rows)

    def properties(self) -> dict:
        mentions = [p for p in self.truth.values() if p is not None]
        return {
            "pages": self.n_pages,
            "page_bytes_mean": round(
                sum(len(r["html"]) for r in self.rows) / self.n_pages, 1),
            "mention_share": round(len(mentions) / self.n_pages, 4),
            "distinct_text_share": round(
                len({p.text for p in mentions}) / max(len(mentions), 1), 4),
        }


def crawl_batch(seed: int, n_pages: int = CRAWL_PAGES) -> CrawlBatch:
    """One batch of Common-Crawl-style pages: ~2 KB of filler html each,
    MENTION_SHARE of them with one ``<span class="adr">`` mention drawn
    with a hot-city skew from the whole address universe."""
    rng = random.Random(f"crawl:{seed}")
    groups = _by_city_kind(universe())
    n_cities = SCALE["n_cities"]
    rows, truth = [], {}
    for i in range(n_pages):
        url = f"https://site{rng.randrange(500)}.example/{seed}/{i}"
        place = None
        if rng.random() < MENTION_SHARE:
            city = 0 if rng.random() < HOT_CITY_SHARE else \
                rng.randrange(1, n_cities)
            kind = rng.choices(KINDS, _KIND_WEIGHTS)[0]
            place = rng.choice(groups[(city, kind)])
        geo = ""
        if rng.random() < GEO_SHARE:
            cx, cy = synth.city_center(rng.randrange(n_cities))
            geo = (f'<meta name="geo" content="{cy + rng.uniform(-.1, .1):.6f};'
                   f'{cx + rng.uniform(-.1, .1):.6f}">')
        paras = []
        size = 0
        while size < PAGE_BYTES - 200:
            para = f"<p>{rng.choice(_FILLER)} ({rng.randrange(10_000)}).</p>"
            paras.append(para)
            size += len(para)
        if place is not None:
            paras.insert(rng.randrange(len(paras) + 1),
                         f'<span class="adr">{place.text}</span>')
        html = (f"<html><head><title>page {i}</title>{geo}</head><body>"
                + "".join(paras) + "</body></html>")
        rows.append({
            "url": url,
            "warc_ts": _EPOCH + dt.timedelta(seconds=37 * i),
            "html": html.encode("utf-8"),
            "text": f"page {i}" + (f" {place.text}" if place else ""),
            "lang": rng.choice(_LANGS),
        })
        truth[url] = place
    return CrawlBatch(rows, truth)


# -------------------------------------------------------------------- api

@dataclass(frozen=True)
class Request:
    kind: str        # search | lookup
    arg: object      # query text | tuple of "N123"-style refs
    expect: object   # (osm_type, osm_id) | frozenset of (osm_type, osm_id)


@dataclass(frozen=True)
class ApiStream:
    warmup: dict[str, list[Request]]   # kind -> untimed requests
    blocks: list[list[Request]]        # timed, sent block after block


def api_requests(seed: int) -> ApiStream:
    """Single requests in seeded blocks.  Every block holds one search for
    each kind of place text and one lookup of each size from 1 to 5 osm
    refs, in seeded order.  Runs send whole blocks, so every run has the
    same composition and a seed changes only which places are asked for.
    Two blocks serve the warm-up.  Search texts are never repeated within a
    run, which caps the stream at one block per city."""
    rng = random.Random(f"api:{seed}")
    places = universe()
    pools = {kind: rng.sample([p for p in places if p.kind == kind],
                              sum(p.kind == kind for p in places))
             for kind in KINDS}

    def search(kind):
        pl = pools[kind].pop()
        return Request("search", pl.text, pl.ref)

    def lookup(n_refs):
        want = frozenset(p.ref for p in rng.sample(places, n_refs))
        return Request("lookup", tuple(sorted(f"{t}{i}" for t, i in want)),
                       want)

    def block():
        reqs = [search(kind) for kind in KINDS]
        reqs += [lookup(n) for n in range(1, 6)]
        rng.shuffle(reqs)
        return reqs

    warm = block() + block()
    warmup = {kind: [r for r in warm if r.kind == kind]
              for kind in ("search", "lookup")}
    return ApiStream(warmup,
                     [block() for _ in range(SCALE["n_cities"] - 2)])
